"""Missing-data operators (reference: xarray/core/missing.py, SURVEY §2.7).

ffill/bfill are `last/first(ignorenulls)` window scans — the distributed
analogue of the push kernel (xarray/core/duck_array_ops.py:872, a
Blelloch scan under dask; Spark's window gives the same O(n) scan per
partition-ordered group).

interpolate_na(linear) is two window scans (previous/next valid point)
plus a columnar blend — no UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_spark.dataset import XDataset


def _ordered_windows(ds: XDataset, dim: str):
    others = [d for d in ds.dims if d != dim]
    back = Window.partitionBy(*others).orderBy(dim).rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.partitionBy(*others).orderBy(dim).rowsBetween(0, Window.unboundedFollowing)
    seq = Window.partitionBy(*others).orderBy(dim)
    return back, fwd, seq


def _maybe_segmented_fill(ds: XDataset, dim: str, limit, kind: str):
    """Auto-dispatch global-series ffill/bfill to the segmented scale
    path (options.AUTO_SEGMENT_THRESHOLD) — lazy size estimate, no
    count() action."""
    from xarray_spark import options
    from xarray_spark._utils import estimated_rows
    thr = options.AUTO_SEGMENT_THRESHOLD
    if thr is None or limit is not None:
        return None
    if [d for d in ds.dims if d != dim]:
        return None
    if estimated_rows(ds.df) < thr:
        return None
    from xarray_spark.segmented import bfill_segmented, ffill_segmented
    return (ffill_segmented if kind == "ffill" else bfill_segmented)(ds, dim)


def ffill(ds: XDataset, dim: str, limit: int | None = None) -> XDataset:
    """Propagate last valid value forward (xarray/core/dataset.py:6716)."""
    seg = _maybe_segmented_fill(ds, dim, limit, "ffill")
    if seg is not None:
        return seg
    from xarray_spark._utils import nan_to_null
    back, _fwd, seq = _ordered_windows(ds, dim)
    rn = F.row_number().over(seq)
    df = nan_to_null(ds.df, list(ds.data_vars), ds.df.schema) \
        .withColumn("__rn", rn)
    back_rn = Window.partitionBy(*[d for d in ds.dims if d != dim]).orderBy(dim).rowsBetween(Window.unboundedPreceding, 0)
    exprs = []
    for c in df.columns:
        if c in ds.data_vars:
            filled = F.last(c, ignorenulls=True).over(back_rn)
            if limit is not None:
                last_valid_rn = F.last(
                    F.when(F.col(c).isNotNull(), F.col("__rn")), ignorenulls=True
                ).over(back_rn)
                dist = F.col("__rn") - last_valid_rn
                filled = F.when(dist <= limit, filled)
            exprs.append(filled.alias(c))
        elif c != "__rn":
            exprs.append(F.col(c))
    return ds._replace(df=df.select(*exprs))


def bfill(ds: XDataset, dim: str, limit: int | None = None) -> XDataset:
    """Propagate next valid value backward (xarray/core/dataset.py:6780)."""
    seg = _maybe_segmented_fill(ds, dim, limit, "bfill")
    if seg is not None:
        return seg
    others = [d for d in ds.dims if d != dim]
    seq = Window.partitionBy(*others).orderBy(dim)
    fwd = Window.partitionBy(*others).orderBy(dim).rowsBetween(0, Window.unboundedFollowing)
    rn = F.row_number().over(seq)
    from xarray_spark._utils import nan_to_null
    df = nan_to_null(ds.df, list(ds.data_vars), ds.df.schema) \
        .withColumn("__rn", rn)
    exprs = []
    for c in df.columns:
        if c in ds.data_vars:
            filled = F.first(c, ignorenulls=True).over(fwd)
            if limit is not None:
                next_valid_rn = F.first(
                    F.when(F.col(c).isNotNull(), F.col("__rn")), ignorenulls=True
                ).over(fwd)
                dist = next_valid_rn - F.col("__rn")
                filled = F.when(dist <= limit, filled)
            exprs.append(filled.alias(c))
        elif c != "__rn":
            exprs.append(F.col(c))
    return ds._replace(df=df.select(*exprs))


def _as_double(col: Column, dtype: T.DataType) -> Column:
    from xarray_spark._utils import to_double
    return to_double(col, dtype)


def interpolate_na(ds: XDataset, dim: str, method: str = "linear",
                   limit: int | None = None, max_gap=None,
                   order: int | None = None,
                   use_coordinate: bool = True,
                   lam: float | None = None,
                   s: float | None = None,
                   fill_value=None,
                   _src_pred=None) -> XDataset:
    """Gap interpolation along dim (xarray/core/missing.py:331).

    Methods (reference matrix core/missing.py:486):

    - ``linear`` / ``slinear``: window expressions — previous valid
      (x0,y0) via a backward scan, next valid (x1,y1) forward, blend.
    - ``nearest``: closer of the two neighbors.
    - ``zero``: zero-order hold (previous valid value), interior only.
    - ``polynomial`` (with ``order``), ``quadratic`` (order 2),
      ``cubic`` (order 3): local Lagrange interpolation through the
      ``order+1`` nearest valid points, numpy per series via
      applyInPandas (scipy's spline variants are B-splines; the local
      polynomial is the numpy-only equivalent and is exact on data that
      IS a polynomial of that order).

    Leading/trailing nulls stay null (xarray default: interior only);
    ``fill_value`` (scalar or (left, right) pair — np.interp's
    left/right through the reference NumpyInterpolator,
    core/missing.py:100) fills those edge nulls with constants.
    ``limit``/``max_gap`` govern interior gaps only.
    """
    if fill_value is not None and method not in ("linear", "nearest",
                                                 "zero", "slinear"):
        raise NotImplementedError(
            "fill_value= is the NumpyInterpolator's left/right edge "
            "constant — linear/nearest/zero only")
    from xarray_spark._utils import nan_to_null
    ds = ds._replace(df=nan_to_null(ds.df, list(ds.data_vars), ds.df.schema))
    # xarray max_gap: gaps wider than this (in coordinate units; seconds
    # for time dims) stay unfilled
    gap = (None if max_gap is None
           else float(max_gap.total_seconds())
           if hasattr(max_gap, "total_seconds") else float(max_gap))
    if method in ("quadratic", "cubic", "polynomial"):
        o = {"quadratic": 2, "cubic": 3}.get(method, order)
        if o is None:
            raise ValueError("method='polynomial' requires order=")
        return _interpolate_na_poly(ds, dim, int(o), limit, gap,
                                    use_coordinate)
    if method in ("pchip", "akima"):
        return _interpolate_na_hermite(ds, dim, method, limit, gap,
                                       use_coordinate)
    if method in ("spline", "cubic_spline", "natural", "smooth_spline"):
        if method == "smooth_spline" and lam is None and s is None:
            raise ValueError("method='smooth_spline' requires lam= or s=")
        if lam is not None and s is not None:
            raise ValueError("pass lam= or s=, not both")
        return _interpolate_na_spline(ds, dim, limit, gap, use_coordinate,
                                      lam=lam, s=s)
    if method == "slinear":
        method = "linear"
    if method not in ("linear", "nearest", "zero"):
        raise NotImplementedError(f"interpolate_na method {method!r}")
    others = [d for d in ds.dims if d != dim]
    back = Window.partitionBy(*others).orderBy(dim).rowsBetween(Window.unboundedPreceding, 0)
    fwd = Window.partitionBy(*others).orderBy(dim).rowsBetween(0, Window.unboundedFollowing)
    seq = Window.partitionBy(*others).orderBy(dim)
    x = _as_double(F.col(dim), ds.df.schema[dim].dataType)
    df = ds.df
    need_rn = limit is not None or not use_coordinate
    if need_rn:
        df = df.withColumn("__rn", F.row_number().over(seq))
    if not use_coordinate:
        # positional interpolation (xarray use_coordinate=False,
        # core/missing.py:248): x = ordinal along the dim
        x = F.col("__rn").cast("double")
    # Materialize the bracketing pairs ONCE per var in an intermediate
    # select: the blend below mentions x0/y0/x1/y1 ~a dozen times, and
    # each mention of an un-extracted window expression duplicates the
    # whole `last(struct).over(...)` subtree in the unanalyzed plan —
    # measured 2× plan-build/codegen cost on the interp() gate.  After
    # this select the Window node's outputs are plain attributes (and
    # the analyzer's window extraction blocks projection re-inlining),
    # so every downstream mention is a field reference.
    win_cols = []
    for c in ds.data_vars:
        v = F.col(c).cast("double")
        # _src_pred (interp()'s private hook): pairs come from
        # SOURCE rows even when their value is null, so a NaN
        # source poisons the blend and an exact hit on it returns
        # NaN — scipy interp1d semantics at zero extra window cost.
        pair = F.when(_src_pred if _src_pred is not None
                      else v.isNotNull(),
                      F.struct(x.alias("x"), v.alias("y")))
        win_cols.append(
            F.last(pair, ignorenulls=True).over(back).alias(f"__pv_{c}"))
        win_cols.append(
            F.first(pair, ignorenulls=True).over(fwd).alias(f"__nx_{c}"))
        if limit is not None:
            win_cols.append(
                F.last(F.when(v.isNotNull(), F.col("__rn")),
                       ignorenulls=True).over(back).alias(f"__lv_{c}"))
    df = df.select("*", *win_cols)
    exprs = []
    for c in df.columns:
        if c in ds.data_vars:
            v = F.col(c).cast("double")
            prev, nxt = F.col(f"__pv_{c}"), F.col(f"__nx_{c}")
            x0, y0 = prev.getField("x"), prev.getField("y")
            x1, y1 = nxt.getField("x"), nxt.getField("y")
            # exact-label duplicates (interp() unions a null row per
            # target label; a target equal to an existing label sits at
            # distance 0 from it): fillable from ONE side, no blend —
            # this is what keeps identity interpolation exact at the
            # series edges without any extra joins in interp()
            exact_prev = x0.isNotNull() & (x0 == x)
            exact_next = x1.isNotNull() & (x1 == x)
            if method == "linear":
                # np.interp's EXACT formula (numpy compiled_interp —
                # the reference's NumpyInterpolator delegates to it):
                # slope-form `slope*(x-x0) + y0`, NOT the fraction
                # form `y0 + (y1-y0)*frac` — the two differ at the
                # last ULP, which catastrophic cancellation amplifies
                # (wave 45: midpoint of {1e6, -999999.9999999999}
                # must be exactly 0.0).  np.interp also retries from
                # the right anchor when the left-form result is NaN,
                # then falls back to y0 when y0 == y1.
                slope = (y1 - y0) / (x1 - x0)
                left = slope * (x - x0) + y0
                right = slope * (x - x1) + y1
                blend = (F.when(~F.isnan(left), left)
                         .when(~F.isnan(right), right)
                         .when(y0 == y1, y0))
                interp = F.when(x1 == x0, y0).otherwise(blend)
            elif method == "zero":
                interp = y0
            else:  # nearest
                interp = F.when((x - x0) <= (x1 - x), y0).otherwise(y1)
            interp = F.when(exact_prev, y0).when(exact_next, y1).otherwise(interp)
            two_sided = x0.isNotNull() & x1.isNotNull()
            if gap is not None:
                # a distance-0 exact hit is never a gap
                two_sided = two_sided & ((x1 - x0) <= gap)
            can_fill = exact_prev | exact_next | two_sided
            if limit is not None:
                # xarray limit: fill at most `limit` consecutive nulls
                # after the last valid value (pandas-style); the window
                # scan was materialized as __lv_{c} above
                can_fill = can_fill & (
                    (F.col("__rn") - F.col(f"__lv_{c}")) <= limit)
            filled = F.when(v.isNotNull(), v).otherwise(F.when(can_fill, interp))
            if fill_value is not None:
                if isinstance(fill_value, (tuple, list)) and len(fill_value) == 2:
                    lval, rval = fill_value
                else:
                    lval = rval = fill_value
                filled = (
                    F.when(v.isNull() & x0.isNull() & x1.isNotNull(),
                           F.lit(float(lval)))
                    .when(v.isNull() & x1.isNull() & x0.isNotNull(),
                          F.lit(float(rval)))
                    .otherwise(filled))
            exprs.append(filled.alias(c))
        elif c != "__rn" and not c.startswith(("__pv_", "__nx_", "__lv_")):
            exprs.append(F.col(c))
    return ds._replace(df=df.select(*exprs))


def _hermite_slopes(xv, yv, method: str):
    """Per-point derivatives for cubic-Hermite gap fill.

    - ``pchip``: Fritsch–Carlson monotone slopes (the construction
      behind scipy.interpolate.PchipInterpolator, published in
      Fritsch & Carlson, SIAM J. Numer. Anal. 1980) — weighted harmonic
      mean of adjacent secants, 0 at local extrema, so the interpolant
      never overshoots the data.
    - ``akima``: Akima's 1970 weighted-slope rule with quadratic slope
      extrapolation at the ends.
    """
    import numpy as np
    n = len(xv)
    h = np.diff(xv)
    m = np.diff(yv) / h
    d = np.empty(n)
    if method == "pchip":
        # interior: harmonic mean where secants agree in sign, else 0
        for i in range(1, n - 1):
            if m[i - 1] * m[i] <= 0:
                d[i] = 0.0
            else:
                w1 = 2 * h[i] + h[i - 1]
                w2 = h[i] + 2 * h[i - 1]
                d[i] = (w1 + w2) / (w1 / m[i - 1] + w2 / m[i])
        # one-sided endpoint formula with monotonicity clipping
        for i, (ha, hb, ma, mb) in ((0, (h[0], h[1] if n > 2 else h[0],
                                          m[0], m[1] if n > 2 else m[0])),
                                    (n - 1, (h[-1], h[-2] if n > 2 else h[-1],
                                             m[-1], m[-2] if n > 2 else m[-1]))):
            t = ((2 * ha + hb) * ma - ha * mb) / (ha + hb)
            if t * ma <= 0:
                t = 0.0
            elif ma * mb < 0 and abs(t) > 3 * abs(ma):
                t = 3 * ma
            d[i] = t
    else:  # akima
        # extend the secant sequence by quadratic extrapolation
        me = np.concatenate(([2 * m[0] - m[1] if n > 2 else m[0],
                              3 * m[0] - 2 * (m[1] if n > 2 else m[0])][::-1],
                             m,
                             [2 * m[-1] - (m[-2] if n > 2 else m[-1]),
                              3 * m[-1] - 2 * (m[-2] if n > 2 else m[-1])]))
        for i in range(n):
            m1, m2, m3, m4 = me[i], me[i + 1], me[i + 2], me[i + 3]
            w1, w2 = abs(m4 - m3), abs(m2 - m1)
            d[i] = (m2 + m3) / 2 if (w1 + w2) == 0 else (w1 * m2 + w2 * m3) / (w1 + w2)
    return d


def _interior_fill(ds: XDataset, dim: str, limit: int | None,
                   gap: float | None, use_coordinate: bool, min_valid: int,
                   fit) -> XDataset:
    """The numpy gap-fill harness of the polynomial, Hermite and spline
    families: one applyInPandas call per complement-dim group (with no
    complement dim, the keyless ``groupBy()`` hands the whole series to
    one call), each var sorted along ``dim``.  A var with fewer than
    ``min_valid`` valid points stays as it is.  Otherwise
    ``fit(xv, yv)`` sees its valid points and returns ``at(xi, j)``,
    the estimate at ``xi`` inside ``[xv[j], xv[j+1]]``; it fills interior
    nulls only, skipping gaps wider than ``gap`` (coordinate units) and
    nulls more than ``limit`` positions past the last valid point."""
    import numpy as np
    import pandas as pd

    others = [d for d in ds.dims if d != dim]
    varlist = list(ds.data_vars)
    base = ds.df.withColumn(
        "__x", _as_double(F.col(dim), ds.df.schema[dim].dataType))

    def fill_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__x").reset_index(drop=True)
        x = (pdf["__x"].to_numpy("float64") if use_coordinate
             else np.arange(len(pdf), dtype="float64"))
        for v in varlist:
            y = pdf[v].to_numpy("float64")
            valid = ~np.isnan(y)
            xv, yv = x[valid], y[valid]
            if len(xv) < min_valid:
                continue
            at = fit(xv, yv)
            vidx = np.flatnonzero(valid)
            for i in np.flatnonzero(~valid):
                pos = np.searchsorted(vidx, i)
                if pos == 0 or pos == len(vidx):
                    continue  # interior only
                j = pos - 1
                if gap is not None and (xv[j + 1] - xv[j]) > gap:
                    continue
                if limit is not None and (i - vidx[j]) > limit:
                    continue
                y[i] = at(x[i], j)
            pdf[v] = y
        return pdf.drop(columns="__x")

    return ds._replace(
        df=base.groupBy(*others).applyInPandas(fill_group, ds.df.schema))


def _interpolate_na_hermite(ds: XDataset, dim: str, method: str,
                            limit: int | None, gap: float | None,
                            use_coordinate: bool = True) -> XDataset:
    """pchip/akima gap fill: cubic Hermite in the containing interval
    with family-specific slopes (_hermite_slopes), on the
    :func:`_interior_fill` harness (xarray/core/missing.py:486 routes
    these to scipy; the slope constructions here are the published
    formulas, no scipy needed)."""
    def fit(xv, yv):
        slopes = _hermite_slopes(xv, yv, method)

        def at(xi, j):
            hh = xv[j + 1] - xv[j]
            t = (xi - xv[j]) / hh
            h00 = (1 + 2 * t) * (1 - t) ** 2
            h10 = t * (1 - t) ** 2
            h01 = t * t * (3 - 2 * t)
            h11 = t * t * (t - 1)
            return (h00 * yv[j] + h10 * hh * slopes[j]
                    + h01 * yv[j + 1] + h11 * hh * slopes[j + 1])
        return at

    return _interior_fill(ds, dim, limit, gap, use_coordinate, 2, fit)


def _interpolate_na_poly(ds: XDataset, dim: str, order: int,
                         limit: int | None, gap: float | None,
                         use_coordinate: bool = True) -> XDataset:
    """Local Lagrange gap fill: each null takes the exact-fit polynomial
    through the ``order+1`` nearest valid points, on the
    :func:`_interior_fill` harness (a global series buffers in one
    group — same shape as the reference's numpy execution; segment
    first if the series itself is corpus-sized)."""
    import numpy as np

    def fit(xv, yv):
        def at(xi, j):
            near = np.argsort(np.abs(xv - xi), kind="stable")[: order + 1]
            # center on the fill point: the Vandermonde of raw
            # coordinates is catastrophically conditioned for large
            # ordinals; centered, the constant term IS the value
            c = np.polyfit(xv[near] - xi, yv[near], order)
            return float(c[-1])
        return at

    return _interior_fill(ds, dim, limit, gap, use_coordinate, order + 1, fit)


def interp(ds: XDataset, coords: dict, method: str = "linear",
           order: int | None = None, lam: float | None = None,
           fill_value=None) -> XDataset:
    """Regrid onto new coordinate values (xarray/core/dataset.py:3786).

    Long-form strategy (1-D per dim, separable): union the target labels
    into the label axis with null values, interpolate with any
    :func:`interpolate_na` family (linear/nearest/zero/quadratic/cubic/
    polynomial/pchip/akima/spline/smooth_spline), then keep only the
    target labels — an as-of join + blend (reference decomposition:
    xarray/core/missing.py:846).
    """
    if fill_value is not None and not (fill_value == "extrapolate"
                                       and method == "linear"):
        raise NotImplementedError(
            "interp fill_value supports 'extrapolate' with "
            "method='linear' only (the scipy edge-segment extension)")
    if len(coords) > 1:
        # separable N-D: sequential 1-D interps, the reference's own
        # decomposition (xarray/core/missing.py:846 decompose_interp)
        out = ds
        for dim, targets in coords.items():
            out = interp(out, {dim: targets}, method, order=order,
                         lam=lam, fill_value=fill_value)
        return out
    (dim, targets), = coords.items()
    spark = ds.spark
    others = [d for d in ds.dims if d != dim]
    # rows for target labels: one per existing combination of other dims.
    # Targets may be a python list OR a DataFrame/XDataset label table
    # (no driver-side collect for the latter — interp_like path).
    if isinstance(targets, XDataset):
        tgt_labels = targets.df.select(dim).where(F.col(dim).isNotNull()).distinct()
    elif hasattr(targets, "sparkSession"):  # DataFrame
        tgt_labels = targets.select(dim).where(F.col(dim).isNotNull()).distinct()
    else:
        from xarray_spark._utils import local_df
        tgt_labels = local_df(spark, [(t,) for t in list(targets)], [dim])
    if others:
        other_combos = ds.df.select(*others).distinct()
        tgt = other_combos.crossJoin(F.broadcast(tgt_labels))
    else:
        tgt = tgt_labels
    # pure union, no joins: every target label gets a null row and the
    # interpolation expression fills it — including distance-0 exact
    # hits at the series edges, which interpolate_na's exact_prev/
    # exact_next one-sided fill handles (identity interpolation stays
    # exact without any join in this plan)
    for v in ds.data_vars:
        tgt = tgt.withColumn(v, F.lit(None).cast(ds.df.schema[v].dataType))
    for c in ds.coords:
        tgt = tgt.withColumn(c, F.lit(None).cast(ds.df.schema[c].dataType))
    tgt = tgt.withColumn("__is_tgt", F.lit(1))
    from xarray_spark._utils import nan_to_null
    base = (nan_to_null(ds.df, list(ds.data_vars), ds.df.schema)
            .withColumn("__is_tgt", F.lit(0)))
    xs_d = _as_double(F.col(dim), ds.df.schema[dim].dataType)
    window_methods = method in ("linear", "slinear", "nearest", "zero")
    if window_methods:
        # NaN poisoning (scipy interp1d semantics) comes FREE on this
        # path: interpolate_na pairs on "is a source row" instead of
        # "is non-null", so a NaN source bracketing value nulls the
        # blend and an exact hit on a NaN source returns NaN — same
        # two windows per var, no extra plan cost.
        unioned = base.unionByName(tgt.select(*base.columns))
        u = ds._replace(df=unioned)
        filled = interpolate_na(u, dim, method=method, order=order,
                                lam=lam,
                                _src_pred=F.col("__is_tgt") == 0)
        out = filled.df.where(F.col("__is_tgt") == 1).drop("__is_tgt")
        if fill_value == "extrapolate":
            # scipy interp1d(fill_value='extrapolate'): targets OUTSIDE
            # the knot range extend the EDGE SEGMENT's line (the first/
            # last two knots define the slope).  The four edge knots per
            # complement-dim group are a tiny windowed pick over the
            # source rows — broadcast-joined back onto the out-of-range
            # targets.
            w_src = Window.partitionBy(*others).orderBy(dim)
            w_end = Window.partitionBy(*others).orderBy(F.col(dim).desc())
            src = base.withColumn("__rn", F.row_number().over(w_src)) \
                      .withColumn("__rne", F.row_number().over(w_end)) \
                      .where((F.col("__rn") <= 2) | (F.col("__rne") <= 2))
            aggs = [F.min(F.when(F.col("__rn") == 1, xs_d)).alias("__x1"),
                    F.min(F.when(F.col("__rn") == 2, xs_d)).alias("__x2"),
                    F.min(F.when(F.col("__rne") == 2, xs_d)).alias("__xm1"),
                    F.min(F.when(F.col("__rne") == 1, xs_d)).alias("__xm")]
            for v in ds.data_vars:
                vc = F.col(v).cast("double")
                aggs += [
                    F.min(F.when(F.col("__rn") == 1, vc)).alias(f"__y1_{v}"),
                    F.min(F.when(F.col("__rn") == 2, vc)).alias(f"__y2_{v}"),
                    F.min(F.when(F.col("__rne") == 2, vc)).alias(f"__ym1_{v}"),
                    F.min(F.when(F.col("__rne") == 1, vc)).alias(f"__ym_{v}"),
                ]
            edges = (src.groupBy(*others).agg(*aggs) if others
                     else src.agg(*aggs))
            out = (out.join(F.broadcast(edges), on=others) if others
                   else out.crossJoin(F.broadcast(edges)))
            x = xs_d
            exprs = []
            for c in out.columns:
                if c in ds.data_vars:
                    y1, y2 = F.col(f"__y1_{c}"), F.col(f"__y2_{c}")
                    ym1, ym = F.col(f"__ym1_{c}"), F.col(f"__ym_{c}")
                    lo = y1 + (y2 - y1) * (x - F.col("__x1")) \
                        / (F.col("__x2") - F.col("__x1"))
                    hi = ym1 + (ym - ym1) * (x - F.col("__xm1")) \
                        / (F.col("__xm") - F.col("__xm1"))
                    e = (F.when(x < F.col("__x1"), lo)
                         .when(x > F.col("__xm"), hi)
                         .otherwise(F.col(c)))
                    # single-knot series: no segment to extend — scipy
                    # errors there; keep the edge value (nearest)
                    e = F.when(F.col("__x2").isNull(),
                               F.coalesce(F.col(c), F.col(f"__y1_{c}"))
                               ).otherwise(e)
                    exprs.append(e.alias(c))
                elif not c.startswith("__"):
                    exprs.append(F.col(c))
            out = out.select(*exprs)
        return ds._replace(df=out)
    # higher-order (applyInPandas) methods: fill first, then poison
    # targets whose immediate source bracket contains a NaN value —
    # the windows reuse the group partitioning, one extra sort only.
    srccols = []
    for v in ds.data_vars:
        srccols.append(f"__src_{v}")
        base = base.withColumn(
            f"__src_{v}",
            F.struct(xs_d.alias("x"), F.col(v).isNull().alias("n")))
    unioned = base.unionByName(
        tgt.withColumns({c: F.lit(None).cast(base.schema[c].dataType)
                         for c in srccols}).select(*base.columns))
    u = ds._replace(df=unioned)
    filled = interpolate_na(u, dim, method=method, order=order, lam=lam)
    back = Window.partitionBy(*others).orderBy(dim).rowsBetween(
        Window.unboundedPreceding, 0)
    fwd = Window.partitionBy(*others).orderBy(dim).rowsBetween(
        0, Window.unboundedFollowing)
    fdf = filled.df
    for v in ds.data_vars:
        prev = F.last(F.col(f"__src_{v}"), ignorenulls=True).over(back)
        nxt = F.first(F.col(f"__src_{v}"), ignorenulls=True).over(fwd)
        pn, nn = prev.getField("n"), nxt.getField("n")
        poison = (F.when(prev.getField("x") == xs_d, pn)
                  .when(nxt.getField("x") == xs_d, nn)
                  .otherwise(F.coalesce(pn, F.lit(False))
                             | F.coalesce(nn, F.lit(False))))
        fdf = fdf.withColumn(
            v, F.when((F.col("__is_tgt") == 1) & poison,
                      F.lit(None)).otherwise(F.col(v)))
    out = fdf.where(F.col("__is_tgt") == 1).drop("__is_tgt", *srccols)
    return ds._replace(df=out)


def _interpolate_na_spline(ds: XDataset, dim: str, limit: int | None,
                           gap: float | None, use_coordinate: bool = True,
                           lam: float | None = None,
                           s: float | None = None) -> XDataset:
    """Natural cubic spline gap fill (xarray routes method='spline' to
    scipy's interpolator, core/missing.py:486; here the classic natural
    spline: second derivatives from the tridiagonal system solved with
    the Thomas algorithm in numpy — no scipy), on the
    :func:`_interior_fill` harness like the other families.

    With ``lam`` set, fits the PENALIZED (smoothing) cubic spline
    instead — minimize sum (y-g)^2 + lam * integral g''^2 (the Reinsch
    algorithm, as in scipy.interpolate.make_smoothing_spline(lam=...)):
    solve (W + lam * Delta Delta^T) gamma = Delta y on the pentadiagonal
    band by Cholesky, fitted knot values g = y - lam * Delta^T gamma,
    then evaluate the resulting natural spline inside gaps.  lam=0
    degenerates to the interpolating spline.  All numpy, O(n) per
    series.

    With ``s`` set instead (the FITPACK smoothing criterion of
    ``scipy.interpolate.UnivariateSpline(s=...)``, the interpolator
    xarray's method='spline' routes to — reference
    core/missing.py:486): per series, pick the SMOOTHEST penalized
    fit whose residual sum of squares stays within ``s`` — the
    residual is monotone nondecreasing in ``lam``, so the selection
    is a grow-then-bisect search on ``lam`` (FITPACK searches knot
    counts for the same criterion; on the full knot set the penalty
    weight is the equivalent smoothness dial).  ``s=0`` degenerates
    to the interpolating spline; ``s`` at or above the straight-line
    residual returns the maximal smoothing."""
    import numpy as np

    def _second_derivs(xv, yv):
        n = len(xv)
        M = np.zeros(n)
        if n < 3:
            return M
        h = np.diff(xv)
        # tridiagonal system, natural ends (M[0]=M[-1]=0), Thomas solve
        a = h[:-1].copy()                      # sub-diagonal
        b = 2.0 * (h[:-1] + h[1:])             # diagonal
        c = h[1:].copy()                       # super-diagonal
        d = 6.0 * ((yv[2:] - yv[1:-1]) / h[1:] - (yv[1:-1] - yv[:-2]) / h[:-1])
        for i in range(1, n - 2):
            w = a[i] / b[i - 1]
            b[i] -= w * c[i - 1]
            d[i] -= w * d[i - 1]
        m = np.zeros(n - 2)
        m[-1] = d[-1] / b[-1]
        for i in range(n - 4, -1, -1):
            m[i] = (d[i] - c[i] * m[i + 1]) / b[i]
        M[1:-1] = m
        return M

    def _smooth_fit(xv, yv, lam_):
        """Reinsch solve: returns (fitted knot values g, second derivs M).

        Bands of A = W + lam * Delta Delta^T (m = n-2 interior knots,
        e[j] = 1/h[j]):  A[j,j] = (h[j]+h[j+1])/3 + lam*(e[j]^2 +
        (e[j]+e[j+1])^2 + e[j+1]^2),  A[j,j+1] = h[j+1]/6 -
        lam*e[j+1]*(e[j]+e[j+1]+e[j+2]... see below),  A[j,j+2] =
        lam*e[j+1]*e[j+2].  SPD pentadiagonal -> banded Cholesky."""
        n = len(xv)
        M = np.zeros(n)
        if n < 3:
            return yv.copy(), M
        h = np.diff(xv)
        e = 1.0 / h
        m = n - 2
        # rhs: (Delta y)[j] = e[j+1]*(y[j+2]-y[j+1]) - e[j]*(y[j+1]-y[j])
        rhs = e[1:] * (yv[2:] - yv[1:-1]) - e[:-1] * (yv[1:-1] - yv[:-2])
        # W bands
        a = (h[:-1] + h[1:]) / 3.0
        b = np.zeros(m); c = np.zeros(m)
        b[: m - 1] = h[1:-1] / 6.0
        # + lam * Delta Delta^T bands
        a += lam_ * (e[:-1] ** 2 + (e[:-1] + e[1:]) ** 2 + e[1:] ** 2)
        if m > 1:
            b[: m - 1] += lam_ * (-(e[:-2] + e[1:-1]) * e[1:-1]
                                  - e[1:-1] * (e[1:-1] + e[2:]))
        if m > 2:
            c[: m - 2] = lam_ * e[1:-2] * e[2:-1]
        # banded Cholesky A = L L^T with L bands (p diag, q sub1, r sub2)
        p = np.zeros(m); q = np.zeros(m); r = np.zeros(m)
        for j in range(m):
            t = a[j]
            if j >= 1:
                t -= q[j - 1] ** 2
            if j >= 2:
                t -= r[j - 2] ** 2
            p[j] = np.sqrt(t)
            if j < m - 1:
                t = b[j]
                if j >= 1:
                    t -= q[j - 1] * r[j - 1]
                q[j] = t / p[j]
            if j < m - 2:
                r[j] = c[j] / p[j]
        # forward then backward substitution
        z = np.zeros(m)
        for j in range(m):
            t = rhs[j]
            if j >= 1:
                t -= q[j - 1] * z[j - 1]
            if j >= 2:
                t -= r[j - 2] * z[j - 2]
            z[j] = t / p[j]
        g = np.zeros(m)
        for j in range(m - 1, -1, -1):
            t = z[j]
            if j < m - 1:
                t -= q[j] * g[j + 1]
            if j < m - 2:
                t -= r[j] * g[j + 2]
            g[j] = t / p[j]
        gamma = g
        # fitted values: y - lam * Delta^T gamma
        dtg = np.zeros(n)
        dtg[:m] += e[:-1] * gamma
        dtg[1 : m + 1] -= (e[:-1] + e[1:]) * gamma
        dtg[2 : m + 2] += e[1:] * gamma
        fitted = yv - lam_ * dtg
        M[1:-1] = gamma
        return fitted, M

    def _select_lam(xv, yv, s_):
        """Largest lam whose residual sum of squares stays <= s —
        the FITPACK criterion on the full knot set (RSS is monotone
        nondecreasing in lam): geometric growth to bracket, then
        bisection."""
        if s_ <= 0:
            return 0.0

        def rss(l_):
            g, _ = _smooth_fit(xv, yv, l_)
            return float(((yv - g) ** 2).sum())

        lo, hi = 0.0, 1.0
        for _ in range(80):
            if rss(hi) > s_:
                break
            lo = hi
            hi *= 8.0
        else:
            return hi  # even huge lam stays within s: maximal smoothing
        for _ in range(48):
            mid = (lo + hi) / 2.0
            if rss(mid) <= s_:
                lo = mid
            else:
                hi = mid
        return lo

    def fit(xv, yv):
        if s is not None:
            gv, M = _smooth_fit(xv, yv, _select_lam(xv, yv, float(s)))
        elif lam is None:
            gv, M = yv, _second_derivs(xv, yv)
        else:
            gv, M = _smooth_fit(xv, yv, float(lam))

        def at(xi, j):
            hh = xv[j + 1] - xv[j]
            t0, t1 = xv[j + 1] - xi, xi - xv[j]
            return (M[j] * t0 ** 3 / (6 * hh) + M[j + 1] * t1 ** 3 / (6 * hh)
                    + (gv[j] / hh - M[j] * hh / 6) * t0
                    + (gv[j + 1] / hh - M[j + 1] * hh / 6) * t1)
        return at

    return _interior_fill(ds, dim, limit, gap, use_coordinate, 2, fit)
