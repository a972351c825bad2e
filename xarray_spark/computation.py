"""Cross-variable computation (reference: xarray/computation/).

dot/cov/corr/polyval/polyfit/integrate/differentiate/weighted and the
apply_ufunc UDF harness.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Callable

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_spark.dataset import XDataArray, XDataset


def where(cond, x, y, ds: XDataset | None = None,
          name: str = "where") -> XDataArray:
    """3-arg where (xarray/computation/computation.py:682).

    Operands may be Columns/scalars over an explicit host ``ds``
    (the engine's original form), or XDataset/XDataArray objects like
    the reference's ``xr.where(cond, x, y)`` — the first array operand
    hosts the expression and the other array operands join in on their
    dims."""
    if ds is None:
        host = next((o for o in (cond, x, y) if isinstance(o, XDataset)),
                    None)
        if host is None:
            raise TypeError(
                "where() needs a host: pass ds=, or make one of "
                "cond/x/y an XDataset/XDataArray")
        df = host.df
        def operand(o, tag):
            nonlocal df
            if not isinstance(o, XDataset):
                return o if isinstance(o, Column) else F.lit(o)
            (var,) = tuple(o.data_vars)
            if o is host:
                return F.col(var)
            odims = [d for d in o.dims if d in host.df.columns]
            if not odims:
                raise ValueError(f"operand dims {o.dims} share no key "
                                 f"column with {host.dims}")
            df = df.join(o.df.select(*odims, F.col(var).alias(tag)),
                         on=odims, how="left")
            return F.col(tag)
        cc = operand(cond, "__wh_c")
        xc = operand(x, "__wh_x")
        yc = operand(y, "__wh_y")
        df = df.withColumn(name, F.when(cc.cast("boolean"), xc).otherwise(yc))
        return XDataArray(df.select(*host.dims, *host.coords, name),
                          host.dims, host.coords, [name], host.attrs)
    xc = x if isinstance(x, Column) else F.lit(x)
    yc = y if isinstance(y, Column) else F.lit(y)
    df = ds.df.withColumn(name, F.when(cond, xc).otherwise(yc))
    return XDataArray(df.select(*ds.dims, *ds.coords, name), ds.dims, ds.coords, [name], ds.attrs)


def dot(a: XDataArray, b: XDataArray, dim: str | Sequence[str] | None = None) -> XDataArray:
    """Tensor contraction (xarray/computation/computation.py:484):
    equi-join on shared dims + sum(a*b) grouped by the remaining dims —
    one shuffle for the join (or broadcast if a side is small), one for
    the agg, both with partial aggregation.  ``dim=None`` contracts
    over every shared dim (reference default)."""
    if dim is None:
        dim = [d for d in a.dims if d in b.dims]
    dims = [dim] if isinstance(dim, str) else list(dim)
    av, bv = a.name, b.name
    if a.df is b.df and av in a.df.columns and bv in a.df.columns and av != bv:
        joined = a.df  # self-join elimination (see _pairwise)
    else:
        b_df = b.df
        if bv == av:
            b_df = b_df.withColumnRenamed(bv, f"__b_{bv}")
            bv = f"__b_{bv}"
        shared = [d for d in a.dims if d in b.dims]
        joined = a.df.join(b_df.select(*b.dims, bv), on=shared, how="inner")
    keep = [d for d in dict.fromkeys(list(a.dims) + list(b.dims)) if d not in dims]
    out_name = f"{av}_dot"
    agg = F.sum(F.col(av) * F.col(bv)).alias(out_name)
    df = joined.groupBy(*keep).agg(agg) if keep else joined.agg(agg)
    return XDataArray(df, keep, {}, [out_name], a.attrs)


def cov(a: XDataArray, b: XDataArray, dim=None, ddof: int = 1) -> XDataArray:
    """(xarray/computation/computation.py:46 — demeaned sum of
    products over the mutually-valid mask, / (n - ddof))."""
    return _pairwise_demeaned(a, b, dim, "cov", ddof=ddof)


def corr(a: XDataArray, b: XDataArray, dim=None) -> XDataArray:
    """(xarray/computation/computation.py:152 — cov normalized by the
    demeaned standard deviations; the ddof factor cancels)."""
    return _pairwise_demeaned(a, b, dim, "corr")


def _pairwise_demeaned(a: XDataArray, b: XDataArray, dim,
                       out_name: str, ddof: int = 1) -> XDataArray:
    """Two-pass cov/corr like the reference (_cov_corr demeans the
    mutually-masked arrays BEFORE the product reduce).  Spark's
    covar_*/corr aggregates use single-pass online co-moments whose
    error grows with the value offset — measured vs the reference:
    1e-9 rel at offset 1e8, 1e-5 at 1e12, 0.6% WRONG at 1e15 — while
    the demeaned form stays exact.  Pass 1 aggregates the label-sized
    per-group mean table; pass 2 broadcast-joins it back and reduces
    the centered products (one extra scan, same class of fix as the
    round-9 weighted-variance rewrite)."""
    from xarray_spark._utils import null_safe_join
    av, bv = a.name, b.name
    if a.df is b.df and av in a.df.columns and bv in a.df.columns and av != bv:
        # self-join elimination: both arrays are columns of one table —
        # aggregate directly, no join shuffle, and no fan-out when dim
        # keys are non-unique (xarray pairs values positionally; a join
        # on duplicated keys would take the cross product instead)
        joined = a.df.select(*a.dims, av, bv)
    else:
        a_df = a.df.select(*a.dims, av)
        b_df = b.df.select(*b.dims, bv).withColumnRenamed(bv, f"__b_{bv}")
        bv = f"__b_{bv}"
        shared = [d for d in a.dims if d in b.dims]
        joined = a_df.join(b_df, on=shared, how="inner")
    dims = list(a.dims) if dim is None else ([dim] if isinstance(dim, str) else list(dim))
    keep = [d for d in a.dims if d not in dims]

    def _valid(c):
        d = F.col(c).cast("double")
        return d.isNotNull() & ~F.isnan(d)

    both = _valid(av) & _valid(bv)
    x = F.when(both, F.col(av).cast("double"))
    y = F.when(both, F.col(bv).cast("double"))
    mean_aggs = [F.avg(x).alias("__ma"), F.avg(y).alias("__mb")]
    if keep:
        means = joined.groupBy(*keep).agg(*mean_aggs)
        # group-count-sized table: no broadcast hint, AQE decides
        j2 = null_safe_join(joined, means, keep)
    else:
        means = joined.agg(*mean_aggs)
        j2 = joined.crossJoin(F.broadcast(means))
    dx = x - F.col("__ma")
    dy = y - F.col("__mb")
    n = F.count(F.when(both, F.lit(1)))
    if out_name == "cov":
        # n <= ddof is NaN in numpy (0/0 or negative divisor) — guard
        # the ANSI division; the engine renders NaN as null
        e = F.when(n > ddof, F.sum(dx * dy) / (n - F.lit(ddof)))
    else:
        den = F.sqrt(F.sum(dx * dx) * F.sum(dy * dy))
        e = F.when(den > 0, F.sum(dx * dy) / den)
    e = e.alias(out_name)
    df = j2.groupBy(*keep).agg(e) if keep else j2.agg(e)
    return XDataArray(df, keep, {}, [out_name], a.attrs)


def polyval(coord: XDataArray, coeffs, name: str = "polyval",
            degree_dim: str = "degree") -> XDataArray:
    """Horner evaluation (xarray/computation/computation.py:836).

    ``coeffs`` is a {degree: value} mapping, or an XDataset/XDataArray
    on the degree dim (e.g. polyfit's output — the coefficients table
    is degree-sized, so the one collect here is label-table work)."""
    if isinstance(coeffs, XDataset):
        if len(coeffs.data_vars) == 1:
            (var,) = tuple(coeffs.data_vars)
        else:
            var = next(v for v in coeffs.data_vars
                       if v.endswith("polyfit_coefficients"))
        rows = coeffs.df.select(degree_dim, var).collect()
        coeffs = {int(r[0]): float(r[1]) for r in rows}
    cname = coord.name
    # temporal coords evaluate at epoch NANOSECONDS — the reference's
    # _ensure_numeric hard-codes datetime_unit='ns' (matches polyfit)
    from xarray_spark._utils import to_double_ns
    xc = to_double_ns(F.col(cname), coord.df.schema[cname].dataType)
    degrees = sorted(coeffs, reverse=True)
    expr = F.lit(0.0)
    for d in degrees:
        expr = expr * xc + F.lit(float(coeffs[d]))
    df = coord.df.withColumn(name, expr)
    return XDataArray(df.select(*coord.dims, *coord.coords, name), coord.dims, coord.coords, [name], coord.attrs)


def polyfit(ds: XDataset, dim: str, deg: int, w: str | None = None,
            full: bool = False, cov: bool | str = False,
            rcond: float | None = None,
            skipna: bool | None = None) -> XDataset:
    """Least-squares polynomial fit per complement-dim group
    (xarray/computation/fit.py:101); ``w=`` names a weight column
    (xarray's array-like ``w`` in long form).

    Scale strategy: compute the Vandermonde moments S_k = Σ w·x^k
    (k ≤ 2·deg) and T_k = Σ w·x^k·y with ONE hash aggregation over the
    fact table, then solve the (deg+1)×(deg+1) normal equations on the
    tiny aggregated result via applyInPandas — no per-row Python.
    Moments are masked per data var (rows where y is null contribute to
    neither side — xarray's skipna), so each var solves a consistent
    system.

    ``full=True`` adds (fit.py:204-212) ``{v}_polyfit_residuals``
    (Σ w²(y−p(x))², from the Syy moment — no extra pass),
    ``{dim}_matrix_rank`` and ``{dim}_singular_values`` of the scaled
    weighted Vandermonde (label-table-sized numpy on the driver; both
    broadcast along the degree rows — the long-form rendering of the
    reference's scalar/degree-dim variables).  ``cov=True`` adds
    residuals plus ``{v}_polyfit_covariance``: each degree row carries
    its ROW of the covariance matrix as array<double> (cov_i ≡ degree
    row, cov_j ≡ array index); ``cov='unscaled'`` skips the
    residual/(n−order) factor (fit.py:281-294).

    ``skipna``: None/True mask invalid values out of the moments (the
    default path); ``skipna=False`` reproduces np.polyfit fed raw NaNs —
    any invalid value in a group poisons that var's coefficients (one
    extra MAX flag in the same aggregation, no second pass)."""
    import numpy as np
    import pandas as pd

    others = [d for d in ds.dims if d != dim]
    if w is not None and not isinstance(w, str):
        if hasattr(w, "data_vars"):
            # DataArray/Dataset weights: align onto the frame
            ds = ds.assign(__w_arr=w)
        else:
            # reference's array-like w: POSITIONAL weights along dim —
            # map position → literal through the broadcast label table
            # (the assign_coords tuple-form idiom)
            vals = [float(v) for v in np.asarray(w, dtype=float)]
            lits = F.array(*[F.lit(v) for v in vals])
            labels = ds._dim_labels(dim)
            # np.polyfit raises TypeError on a w/x length mismatch;
            # without this check a short w would silently null-map
            # (rows dropped from the fit) — round-9 ADVICE #4
            row = labels.select(F.max("__size").alias("n")).first()
            dim_n = int(row["n"]) if row and row["n"] is not None else 0
            if dim_n != len(vals):
                raise TypeError(
                    f"polyfit: expected w and {dim} to have the same "
                    f"length, got {len(vals)} and {dim_n}")
            mapping = labels.select(
                F.col(dim),
                F.element_at(lits, (F.col("__pos") + 1).cast("int"))
                .alias("__w_arr"))
            ds = ds._replace(df=ds.df.join(F.broadcast(mapping), on=dim,
                                           how="left"))
        w = "__w_arr"
    # temporal dims fit in epoch NANOSECONDS — the reference hard-codes
    # datetime_unit='ns' in _ensure_numeric regardless of the input's
    # storage precision (computation.py:946), so coefficient units match
    from xarray_spark._utils import to_double_ns
    x = to_double_ns(F.col(dim), ds.df.schema[dim].dataType)
    # Conditioning: raw moments S_k = Σ x^k square the Vandermonde
    # condition number, so an offset domain (x = years 1950..2050,
    # deg 4) drifts 1e-3 off np.polyfit's scaled-lstsq answer.  Center
    # and scale x to z = (x-mu)/s (z in [-1, 1]) BEFORE the moment
    # aggregation — the z-space normal equations are well-conditioned
    # — and back-transform the coefficients in solve() (exact
    # (deg+1)²-sized driver algebra).  One column-pruned min/max agg
    # pays for it (fingerprint-cached across repeated polyfits over
    # one lineage); measured parity: ≤4e-9 rel coeff diff vs
    # np.polyfit at the deg-4 offset shape where raw moments gave
    # 4.6e-3 abs.
    from xarray_spark._utils import dim_min_max
    lo, hi = dim_min_max(ds.df.select(x.alias("__x")), "__x")
    if lo is None:
        mu, sc = 0.0, 1.0
    else:
        lo_, hi_ = float(lo), float(hi)
        mu = (lo_ + hi_) / 2.0
        sc = (hi_ - lo_) / 2.0 or 1.0
    z = (x - F.lit(mu)) / F.lit(sc)
    # np.polyfit convention (xarray passes w through): weights scale the
    # RESIDUALS, so the normal equations see w^2
    wc = (F.col(w).cast("double") ** 2) if w is not None else F.lit(1.0)
    order = deg + 1
    need_resid = bool(full or cov)
    aggs = []
    varlist = [v for v in ds.data_vars if v != w]
    for v in varlist:
        vd = F.col(v).cast("double")
        mask = vd.isNotNull() & ~F.isnan(vd)
        for k in range(2 * deg + 1):
            aggs.append(
                F.sum(F.when(mask, wc * F.pow(z, float(k)))).alias(f"__s_{v}_{k}")
            )
        for k in range(deg + 1):
            aggs.append(
                F.sum(F.when(mask, wc * F.pow(z, float(k)) * F.col(v))).alias(f"__t_{v}_{k}")
            )
        if need_resid:
            aggs.append(F.sum(F.when(mask, wc * vd * vd)).alias(f"__yy_{v}"))
        if skipna is False:
            aggs.append(F.max((~mask).cast("int")).alias(f"__nan_{v}"))
    moments = ds.df.groupBy(*others).agg(*aggs) if others else ds.df.agg(*aggs)

    # rank / singular values / covariance base: properties of the
    # weighted scaled Vandermonde ALONE (fit.py:202 — built from the
    # full coordinate, independent of y) — label-table-sized driver
    # numpy, consistent with the engine's bounded-label-collect rule.
    rank_v = sing_v = Vbase = n_x = None
    if need_resid:
        if w is not None:
            lab = (ds.df.select(x.alias("__x"), F.col(w).cast("double")
                                .alias("__w"))
                   .where(F.col("__x").isNotNull()).distinct().toPandas()
                   .sort_values("__x"))
            xs_ = lab["__x"].to_numpy(float)
            lhs = np.vander(xs_, order) * lab["__w"].to_numpy(float)[:, None]
        else:
            xs_ = np.sort(np.array([r[0] for r in
                                    ds.df.select(x.alias("__x"))
                                    .where(F.col("__x").isNotNull())
                                    .distinct().collect()], dtype=float))
            lhs = np.vander(xs_, order)
        n_x = len(xs_)
        scale = np.sqrt((lhs * lhs).sum(axis=0))
        with np.errstate(divide="ignore", invalid="ignore"):
            lhs_s = lhs / scale
        rank_v = int(np.linalg.matrix_rank(lhs_s))
        if full:
            sing = np.linalg.svd(lhs_s, compute_uv=False)
            sing_v = np.concatenate(
                [np.full(order - rank_v, np.nan), sing])[:order]
        if cov:
            try:
                Vbase = np.linalg.inv(lhs_s.T @ lhs_s) / np.outer(scale, scale)
            except np.linalg.LinAlgError:
                Vbase = np.full((order, order), np.nan)

    out_fields = [moments.schema[o] for o in others] + [T.StructField("degree", T.IntegerType())] + [
        T.StructField(f"{v}_polyfit_coefficients", T.DoubleType()) for v in varlist
    ]
    extra_vars: list[str] = []
    if need_resid:
        for v in varlist:
            out_fields.append(
                T.StructField(f"{v}_polyfit_residuals", T.DoubleType()))
            extra_vars.append(f"{v}_polyfit_residuals")
    if full:
        out_fields.append(T.StructField(f"{dim}_matrix_rank", T.IntegerType()))
        out_fields.append(
            T.StructField(f"{dim}_singular_values", T.DoubleType()))
        extra_vars += [f"{dim}_matrix_rank", f"{dim}_singular_values"]
    if cov:
        for v in varlist:
            out_fields.append(T.StructField(
                f"{v}_polyfit_covariance", T.ArrayType(T.DoubleType())))
            extra_vars.append(f"{v}_polyfit_covariance")
    out_schema = T.StructType(out_fields)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        # z→x coefficient back-transform: p(x) = Σ cz_k ((x-mu)/s)^k;
        # expanding the powers of the linear map gives the ascending
        # x-space coefficients (exact (deg+1)²-term algebra)
        zbase = np.array([-mu / sc, 1.0 / sc])

        def _to_x_space(cz: np.ndarray) -> np.ndarray:
            acc = np.zeros(deg + 1)
            zpow = np.array([1.0])
            for k in range(deg + 1):
                acc[: len(zpow)] += cz[k] * zpow
                if k < deg:
                    zpow = np.convolve(zpow, zbase)
            return acc

        rows = []
        for _, r in pdf.iterrows():
            coefs, resids = {}, {}
            for v in varlist:
                S = np.array([[r[f"__s_{v}_{i + j}"] for j in range(deg + 1)]
                              for i in range(deg + 1)])
                t = np.array([r[f"__t_{v}_{k}"] for k in range(deg + 1)])
                try:
                    cz = np.linalg.solve(S, t)
                    c = _to_x_space(cz)
                except np.linalg.LinAlgError:
                    cz = c = np.full(deg + 1, np.nan)
                if skipna is False and r.get(f"__nan_{v}", 0) == 1:
                    cz = c = np.full(deg + 1, np.nan)
                coefs[v] = c
                if need_resid:
                    # ‖w·y − w·p‖² = Syy − cᵀT (normal equations; the
                    # residual is basis-independent, so z-space c and T)
                    resids[v] = float(r[f"__yy_{v}"] - cz @ t)
            for d_i in range(deg + 1):
                row = {o: r[o] for o in others}
                row["degree"] = deg - d_i  # xarray orders degree desc
                for v in varlist:
                    row[f"{v}_polyfit_coefficients"] = float(coefs[v][::-1][d_i])
                    if need_resid:
                        row[f"{v}_polyfit_residuals"] = resids[v]
                    if cov:
                        fac = 1.0 if cov == "unscaled" else (
                            resids[v] / (n_x - order)) if n_x > order else np.nan
                        row[f"{v}_polyfit_covariance"] = \
                            (Vbase[d_i] * fac).tolist()
                if full:
                    row[f"{dim}_matrix_rank"] = rank_v
                    row[f"{dim}_singular_values"] = float(sing_v[d_i])
                rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_fields])

    result = moments.groupBy(*others).applyInPandas(solve, out_schema)
    return XDataset(result, ["degree"] + others, {},
                    [f"{v}_polyfit_coefficients" for v in varlist] + extra_vars,
                    ds.attrs)


def curvefit(ds: XDataset, coords: str, func: Callable,
             p0=None, param_names: Sequence[str] | None = None,
             maxiter: int = 100, reduce_dims=None, skipna: bool = True,
             bounds=None, errors: str = "raise") -> XDataset:
    """Nonlinear least-squares fit per group
    (xarray/computation/fit.py:311 Dataset.curvefit).

    numpy-only Levenberg–Marquardt with a forward-difference Jacobian —
    no scipy in the image, and none needed: the damping loop is a dozen
    lines.  ``func(x, *params) -> y`` must be numpy-vectorized.  One
    Arrow batch per group via ``applyInPandas``: the fact table shuffles
    once on the complement dims, each group's series is fit executor-side
    (groups are series-sized, never corpus-sized).  Result: a ``param``
    dim with ``{var}_curvefit_coefficients`` per data var — the
    reference's naming (fit.py:560).
    """
    import numpy as np
    import pandas as pd

    dim = coords
    reduce_dims = ([reduce_dims] if isinstance(reduce_dims, str)
                   else list(reduce_dims or []))
    others = [d for d in ds.dims if d != dim and d not in reduce_dims]
    varlist = list(ds.data_vars)
    # parameter names: explicit > p0-dict keys > func signature
    # (reference fit.py _get_func_args; varargs funcs need param_names)
    if param_names is not None:
        names = list(param_names)
    else:
        import inspect
        sigp = list(inspect.signature(func).parameters.values())[1:]
        if any(p.kind == inspect.Parameter.VAR_POSITIONAL for p in sigp):
            # varargs func: names come from p0 (dict) or positional count
            if isinstance(p0, Mapping):
                names = list(p0)
            elif p0 is not None:
                names = [f"p{i}" for i in range(len(p0))]
            else:
                raise ValueError(
                    "param_names (or p0) required for *args func")
        else:
            names = [p.name for p in sigp]
    n_par = len(names)
    bounds = dict(bounds or {})
    lb = np.array([float(bounds.get(n, (-np.inf, np.inf))[0]) for n in names])
    ub = np.array([float(bounds.get(n, (-np.inf, np.inf))[1]) for n in names])

    def _init(n, i):
        # reference fit.py _initialize_curvefit_params: default 1 when
        # inside the bounds, else midpoint / edge+1
        l, u = lb[i], ub[i]
        if np.isfinite(l) and np.isfinite(u):
            return 1.0 if l < 1.0 < u else 0.5 * (l + u)
        if np.isfinite(l):
            return l + 1.0
        if np.isfinite(u):
            return u - 1.0
        return 1.0

    if p0 is None:
        p0 = [_init(n, i) for i, n in enumerate(names)]
    elif isinstance(p0, Mapping):
        p0 = [float(p0[n]) if n in p0 else _init(n, i)
              for i, n in enumerate(names)]
    else:
        p0 = [float(p) for p in p0]
    if len(p0) != n_par:
        raise ValueError("param_names length must match p0")
    from xarray_spark._utils import to_double
    xcol = to_double(F.col(dim), ds.df.schema[dim].dataType)
    base = ds.df.select(*others, xcol.alias("__x"), *varlist)
    # reduce_dims are pooled into each fit: simply absent from the keys

    out_fields = [base.schema[o] for o in others] + [T.StructField("param", T.StringType())] + [
        T.StructField(f"{v}_curvefit_coefficients", T.DoubleType()) for v in varlist
    ]
    out_schema = T.StructType(out_fields)

    def _fit(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
        p = np.clip(np.array(p0, dtype="float64"), lb, ub)
        if len(x) < n_par:
            if errors == "raise":
                raise ValueError(
                    f"curvefit: {len(x)} points < {n_par} parameters")
            return np.full(n_par, np.nan)
        lam = 1e-3
        for _ in range(maxiter):
            f = func(x, *p)
            r = y - f
            sse = float(r @ r)
            # forward-difference Jacobian
            J = np.empty((len(x), n_par))
            for k in range(n_par):
                dk = 1e-7 * max(abs(p[k]), 1.0)
                pk = p.copy()
                pk[k] += dk
                J[:, k] = (func(x, *pk) - f) / dk
            A = J.T @ J
            g = J.T @ r
            moved = False
            for _damp in range(12):
                try:
                    dp = np.linalg.solve(A + lam * np.diag(np.diag(A) + 1e-12), g)
                except np.linalg.LinAlgError:
                    dp, *_ = np.linalg.lstsq(A, g, rcond=None)
                p_try = np.clip(p + dp, lb, ub)
                r_try = y - func(x, *p_try)
                if float(r_try @ r_try) <= sse:
                    p, lam, moved = p_try, max(lam * 0.3, 1e-14), True
                    break
                lam *= 10.0
            if not moved or float(np.abs(dp).max()) < 1e-14:
                break
        return p

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        keys = {o: pdf[o].iloc[0] for o in others}
        fitted = {}
        for v in varlist:
            sub = pdf[["__x", v]].dropna() if skipna else pdf[["__x", v]]
            try:
                fitted[v] = _fit(sub["__x"].to_numpy("float64"),
                                 sub[v].to_numpy("float64"))
            except Exception:
                if errors == "raise":
                    raise
                fitted[v] = np.full(n_par, np.nan)
        for i, nm in enumerate(names):
            row = dict(keys)
            row["param"] = nm
            for v in varlist:
                row[f"{v}_curvefit_coefficients"] = float(fitted[v][i])
            rows.append(row)
        return pd.DataFrame(rows, columns=[f.name for f in out_fields])

    result = base.groupBy(*others).applyInPandas(fit_group, out_schema)
    return XDataset(result, ["param"] + others, {},
                    [f"{v}_curvefit_coefficients" for v in varlist], ds.attrs)


#: datetime_unit → seconds, for differentiate/integrate on temporal
#: coords (xarray/core/dataset.py:8495 datetime_unit).  Default for a
#: temporal coord is "ns" since round 9 — the reference defaults to the
#: coord's own storage precision, which is "ns" for the datetime64[ns]
#: data a migrating user has (the probe showed a silent 1e9 scale
#: divergence under the old "s" default); pass datetime_unit= for any
#: other unit.
_DT_UNIT_SECONDS = {"W": 604800.0, "D": 86400.0, "h": 3600.0, "m": 60.0,
                    "s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}


def _anchored_coord_col(ds: XDataset, coord: str,
                        datetime_unit: str | None, others):
    """(df, x) numeric coord view with a per-frame integer anchor
    subtracted BEFORE the unit scaling.

    Only valid when the caller consumes DIFFERENCES of x — the anchor
    cancels exactly (integrate/differentiate do; reference
    datetime_to_numeric likewise subtracts the coord min before float
    conversion).  Without it, adjacent 2026-era epoch-ns doubles round
    independently (~256 ns ulp at 1.7e18), a 6.5e-4 rel gradient error
    on 1 ms spacing (round-10 ADVICE).  The anchor subtraction happens
    in exact LONG microseconds; only the small delta is scaled.
    Non-temporal coords pass through raw (numpy diffs raw doubles)."""
    from xarray_spark._utils import is_temporal
    dtype = ds.df.schema[coord].dataType
    if not is_temporal(dtype):
        if datetime_unit is not None:
            raise ValueError("datetime_unit is only valid for datetime coords")
        return ds.df, F.col(coord).cast("double")
    if datetime_unit is None:
        datetime_unit = "ns"
    us = F.unix_micros(F.col(coord).cast("timestamp"))
    anchor = F.min(us).over(Window.partitionBy(*others))
    rel = us - anchor  # exact long arithmetic
    if datetime_unit == "ns":
        x = rel * F.lit(1000.0)
    else:
        x = rel / F.lit(_DT_UNIT_SECONDS[datetime_unit] * 1e6)
    # materialize: the window-min can't nest inside the callers' lag()
    return ds.df.withColumn("__xnum", x), F.col("__xnum")


def integrate(ds: XDataset, coord: str,
              datetime_unit: str | None = None) -> XDataset:
    """Trapezoidal integral along coord (xarray/core/dataset.py:8545):
    Σ (x - lag(x)) · (y + lag(y))/2 — lag window + one aggregation."""
    others = [d for d in ds.dims if d != coord]
    w = Window.partitionBy(*others).orderBy(coord)
    df, x = _anchored_coord_col(ds, coord, datetime_unit, others)
    dx = x - F.lag(x).over(w)
    aggs = []
    skip = ds._bcast_passthrough([coord])
    for v in ds.data_vars:
        if v in skip:
            # broadcast var lacking the integrated dim: the reference
            # leaves it untouched (value passthrough per group)
            aggs.append(F.first(v, ignorenulls=False).alias(v))
            continue
        y = F.col(v).cast("double")
        seg = dx * (y + F.lag(y).over(w)) / 2.0
        df = df.withColumn(f"__seg_{v}", seg)
        aggs.append(F.sum(f"__seg_{v}").alias(v))
    out = df.groupBy(*others).agg(*aggs) if others else df.agg(*aggs)
    return XDataset(out, others, ds._coords_on(others), ds.data_vars, ds.attrs)


def cumulative_integrate(ds: XDataset, coord: str,
                         datetime_unit: str | None = None) -> XDataset:
    """Running trapezoidal integral (xarray/core/dataset.py:8662):
    cumsum of the per-segment areas — one window scan."""
    others = [d for d in ds.dims if d != coord]
    w = Window.partitionBy(*others).orderBy(coord)
    cum = Window.partitionBy(*others).orderBy(coord).rowsBetween(Window.unboundedPreceding, 0)
    df, x = _anchored_coord_col(ds, coord, datetime_unit, others)
    dx = x - F.lag(x).over(w)
    exprs = []
    skip = ds._bcast_passthrough([coord])
    for c in ds.df.columns:
        if c in ds.data_vars and c not in skip:
            y = F.col(c).cast("double")
            seg = F.coalesce(dx * (y + F.lag(y).over(w)) / 2.0, F.lit(0.0))
            exprs.append(F.sum(seg).over(cum).alias(c))
        else:
            exprs.append(F.col(c))
    return ds._replace(df=df.select(*exprs))


def cross(a: XDataArray, b: XDataArray, dim: str) -> XDataArray:
    """3-vector cross product along a length-3 dim
    (xarray/computation/computation.py:316): pivot the component dim to
    columns, columnar formula, unpivot back."""
    comp_a = a.to_dataset_pivot(dim, a.name)
    comp_b = b.to_dataset_pivot(dim, b.name)
    labels = sorted(comp_a.data_vars)
    if len(labels) != 3 or sorted(comp_b.data_vars) != labels:
        raise ValueError(f"cross needs a length-3 dim; got components {labels}")
    x, y, z = labels
    o_df = comp_b.df
    for c in labels:
        o_df = o_df.withColumnRenamed(c, f"__b_{c}")
    shared = [d for d in comp_a.dims if d in comp_b.dims]
    j = comp_a.df.join(o_df, on=shared, how="inner") if shared else comp_a.df.crossJoin(o_df)
    ax, ay, az = F.col(x), F.col(y), F.col(z)
    bx, by, bz = F.col(f"__b_{x}"), F.col(f"__b_{y}"), F.col(f"__b_{z}")
    out = j.select(
        *shared,
        (ay * bz - az * by).alias(x),
        (az * bx - ax * bz).alias(y),
        (ax * by - ay * bx).alias(z),
    )
    res = XDataset(out, shared, {}, labels)
    return res.to_dataarray(dim=dim)


def date_range(spark, start: str, end: str, freq: str = "D", name: str = "time"):
    """Label-table constructor (xarray/coding/cftime_offsets.py
    date_range analogue) — ``sequence()``, no driver loop."""
    from xarray_spark.resample import _INTERVAL_PARTS
    from xarray_spark.groupers import _TRUNC, _parse_freq
    n, unit = _parse_freq(freq)
    trunc = _TRUNC[unit]
    mult, base = _INTERVAL_PARTS[trunc]
    interval = f"interval {n * mult} {base}"
    return spark.range(1).select(
        F.explode(F.expr(
            f"sequence(timestamp '{start}', timestamp '{end}', {interval})"
        )).alias(name)
    )


def convert_calendar(ds: XDataset, calendar: str = "standard",
                     dim: str = "time",
                     align_on: str | None = None, use_cftime: bool = False,
                     source_calendar: str | None = None,
                     missing=None) -> XDataset:
    """Calendar conversion (xarray/coding/calendar_ops.py,
    core/dataset.py:10011).  Positional order matches the reference:
    ``convert_calendar(obj, calendar, dim='time')``.  Calls written in
    the engine's pre-round-5 order (ds, dim, calendar) keep working:
    a second positional that IS a dim of ``ds`` while ``dim`` isn't
    swaps back.

    Two representations (SURVEY §1.3):

    - ``use_cftime=False`` (default): the dim stays a real timestamp and
      the conversion FILTERS dates the target calendar lacks —
      'noleap'/'365_day' drops Feb 29, '360_day' drops day-31s and
      Feb 29/30 (the align_on='date' convention).
    - ``use_cftime=True``: the dim becomes an **encoded int64 ordinal**
      (days since 1970-1-1 in the target calendar — cftime.py), which
      can hold dates Gregorian can't (Feb 30 in 360_day).  Supports
      real→encoded (align_on 'date' drops nonexistent, 'year' maps
      day-of-year proportionally — calendar_ops.py:291), encoded→encoded,
      and encoded→real via ``source_calendar``; the calendar name is
      recorded in attrs['calendar'].
    """
    from xarray_spark import cftime as cft

    if calendar in ds.df.columns and dim not in ds.df.columns:
        # legacy (ds, dim, calendar) positional order
        calendar, dim = dim, calendar
    c = F.col(dim)
    src = source_calendar or (ds.attrs or {}).get("calendar", "standard")
    if use_cftime or src not in cft.REAL_CALENDARS:
        if src in cft.REAL_CALENDARS:
            if calendar in cft.REAL_CALENDARS:
                return ds
            enc = cft.encode_timestamp(c, calendar, align_on or "date")
        elif calendar in cft.REAL_CALENDARS:
            enc = cft.decode_to_timestamp(c, src, align_on or "date")
        else:
            enc = cft.convert_between(c, src, calendar)
        df = ds.df.withColumn(dim, enc).where(F.col(dim).isNotNull())
        attrs = {**(ds.attrs or {}), "calendar": calendar}
        if calendar in cft.REAL_CALENDARS:
            attrs.pop("calendar", None)
        out = ds._replace(df=df, attrs=attrs)
        if missing is not None and calendar in cft.REAL_CALENDARS:
            return _fill_missing_dates(out, dim, missing)
        return out
    if calendar in ("standard", "gregorian", "proleptic_gregorian"):
        return ds
    if calendar in ("noleap", "365_day"):
        keep = ~((F.month(c) == 2) & (F.dayofmonth(c) == 29))
        return ds._replace(df=ds.df.where(keep))
    if calendar == "360_day":
        keep = (F.dayofmonth(c) <= 30) & ~((F.month(c) == 2) & (F.dayofmonth(c) >= 29))
        return ds._replace(df=ds.df.where(keep))
    raise NotImplementedError(f"calendar {calendar!r}")


def _fill_missing_dates(ds: XDataset, dim: str, missing) -> XDataset:
    """convert_calendar(missing=) (xarray/coding/calendar_ops.py:169):
    dates the TARGET calendar has that the source lacked are
    materialized and filled with ``missing`` instead of staying absent —
    a reindex onto the full inferred-frequency range (align_on='date'
    convention; real-timestamp targets only).  Label-table-sized
    planning: one min/max aggregate, one pandas date_range, one
    broadcast reindex."""
    import pandas as pd
    from xarray_spark._utils import dim_min_max
    lo, hi = dim_min_max(ds.df, dim)  # fingerprint-cached, footer-served
    if lo is None:
        return ds
    freq = infer_freq(ds, dim)
    if freq is None:
        raise ValueError(
            "convert_calendar(missing=...) requires an inferable "
            f"frequency on {dim!r}")
    full = [t.to_pydatetime() for t in pd.date_range(lo, hi, freq=freq)]
    return ds.reindex({dim: full}, fill_value=missing)


def _decimal_year_expr(c, dtype, calendar: str):
    """Decimal-year expression for a real timestamp OR an encoded cftime
    ordinal (xarray/coding/calendar_ops.py:417 _decimal_year)."""
    from xarray_spark._utils import is_temporal
    from xarray_spark import cftime as cft
    if is_temporal(dtype):
        y = F.year(c)
        start = F.make_date(y, F.lit(1), F.lit(1)).cast("timestamp")
        nxt = F.make_date(y + 1, F.lit(1), F.lit(1)).cast("timestamp")
        frac = (
            (F.unix_timestamp(c.cast("timestamp")) - F.unix_timestamp(start))
            / (F.unix_timestamp(nxt) - F.unix_timestamp(start))
        )
        return y.cast("double") + frac
    ylen = cft.year_length(cft._canon(calendar))
    o = c.cast("long")
    y = F.floor(o / ylen).cast("long")
    return (y + cft.EPOCH_YEAR).cast("double") + \
        (o - y * ylen).cast("double") / F.lit(float(ylen))


def interp_calendar(ds: XDataset, target, dim: str = "time",
                    target_calendar: str | None = None) -> XDataset:
    """Interpolate onto another calendar's time axis via the decimal-year
    measure (xarray/coding/calendar_ops.py:349 interp_calendar,
    core/dataset.py:10134): both axes are converted to ``year +
    fraction-of-year`` doubles, the source is linearly interpolated onto
    the target's decimal years, and the result is re-keyed to the target
    labels.

    ``target`` may be an XDataset (calendar from its attrs), a DataFrame
    of labels, or a python list of labels.  Scale shape: the dim is
    re-keyed by a pure expression, the interpolation is the existing
    union + segmented as-of blend (missing.interp), and the final
    re-key is a broadcast join against the target label table.
    """
    from xarray_spark import cftime as cft
    from xarray_spark.missing import interp
    spark = ds.spark
    src_cal = (ds.attrs or {}).get("calendar", "standard")
    if isinstance(target, XDataset):
        tdf = target.df.select(dim).where(F.col(dim).isNotNull()).distinct()
        tgt_cal = target_calendar or (target.attrs or {}).get("calendar", "standard")
    elif hasattr(target, "sparkSession"):
        tdf = target.select(dim).where(F.col(dim).isNotNull()).distinct()
        tgt_cal = target_calendar or "standard"
    else:
        # pd.Timestamp infers as an empty struct in Spark — downcast to
        # plain datetime before building the label table
        vals = [t.to_pydatetime() if hasattr(t, "to_pydatetime") else t
                for t in list(target)]
        from xarray_spark._utils import local_df
        tdf = local_df(spark, [(t,) for t in vals], [dim])
        tgt_cal = target_calendar or "standard"
    src_dy = _decimal_year_expr(F.col(dim), ds.df.schema[dim].dataType, src_cal)
    src = ds._replace(df=ds.df.withColumn(dim, src_dy))
    tdy = tdf.select(
        F.col(dim).alias("__tgt"),
        _decimal_year_expr(F.col(dim), tdf.schema[dim].dataType, tgt_cal).alias(dim),
    )
    out = interp(src, {dim: tdy.select(dim)}, "linear")
    df = (
        out.df.join(F.broadcast(tdy), on=dim, how="inner")
        .drop(dim).withColumnRenamed("__tgt", dim)
    )
    attrs = {**(ds.attrs or {})}
    if tgt_cal in cft.REAL_CALENDARS:
        attrs.pop("calendar", None)
    else:
        attrs["calendar"] = tgt_cal
    return ds._replace(df=df.select(*ds.df.columns), attrs=attrs)


def date_range_like(spark, ds: XDataset, dim: str, name: str | None = None):
    """Calendar matching ds's dim span and inferred freq
    (xarray/coding/cftime_offsets.py date_range_like)."""
    freq = infer_freq(ds, dim)
    if freq is None:
        raise ValueError(f"cannot infer frequency of {dim!r}")
    lo, hi = ds.df.agg(F.min(dim), F.max(dim)).collect()[0]
    return date_range(spark, str(lo), str(hi), freq, name or dim)


def infer_freq(ds: XDataset, dim: str) -> str | None:
    """Infer the (regular) label frequency of a time dim
    (xarray/coding/frequencies.py infer_freq analogue): mode of the
    label diffs over the tiny label table."""
    from xarray_spark._utils import to_double
    labels = ds.df.select(dim).where(F.col(dim).isNotNull()).distinct()
    w = Window.orderBy(dim)
    x = to_double(F.col(dim), ds.df.schema[dim].dataType)
    diffs = labels.select((x - F.lag(x).over(w)).alias("__d")).where(F.col("__d").isNotNull())
    top = diffs.groupBy("__d").count().orderBy(F.col("count").desc()).limit(1).collect()
    if not top:
        return None
    sec = float(top[0]["__d"])
    for unit, s, name in [("W", 604800.0, "W"), ("D", 86400.0, "D"),
                          ("h", 3600.0, "h"), ("min", 60.0, "min"), ("s", 1.0, "s")]:
        if sec >= s and sec % s == 0:
            k = int(sec // s)
            return name if k == 1 else f"{k}{name}"
    return None


def full_like(ds: XDataset, fill_value, dtype: str | None = None) -> XDataset:
    """Shape-preserving constant dataset (xarray/core/common.py:1497).
    Without ``dtype`` each variable keeps its own dtype (reference
    semantics); a fill that can't represent (NaN into int) is NULL —
    the engine's rendering of numpy's unsafe-cast garbage."""
    import math
    is_nan = isinstance(fill_value, float) and math.isnan(fill_value)

    def e(c):
        lit = F.lit(fill_value)
        if dtype:
            return lit.try_cast(dtype)
        target = ds.df.schema[c].dataType
        if is_nan and not isinstance(target, (T.FloatType, T.DoubleType)):
            return F.lit(None).cast(target)
        return lit.try_cast(target)

    exprs = [e(c).alias(c) if c in ds.data_vars else F.col(c)
             for c in ds.df.columns]
    return ds._replace(df=ds.df.select(*exprs))


def zeros_like(ds: XDataset, dtype: str | None = None) -> XDataset:
    return full_like(ds, 0.0, dtype=dtype)


def ones_like(ds: XDataset, dtype: str | None = None) -> XDataset:
    return full_like(ds, 1.0, dtype=dtype)


def differentiate(ds: XDataset, coord: str,
                  datetime_unit: str | None = None,
                  edge_order: int = 1) -> XDataset:
    """np.gradient gradient (xarray/core/dataset.py:8475): on a
    uniformly-spaced frame the central difference (f₊−f₋)/(2h), on a
    non-uniform frame numpy's second-order 3-coefficient stencil
    a·f₋ + b·f₀ + c·f₊ (the branch np.gradient itself takes) —
    one-sided differences at the edges: edge_order=1 first
    differences (default), edge_order=2 the 3-point one-sided stencil
    (np.gradient edge_order semantics; falls back to first order on a
    2-point series).  Temporal coords are anchored in exact integer
    microseconds before unit scaling (wave 50)."""
    if edge_order not in (1, 2):
        raise ValueError("edge_order must be 1 or 2")
    others = [d for d in ds.dims if d != coord]
    w = Window.partitionBy(*others).orderBy(coord)
    df, x = _anchored_coord_col(ds, coord, datetime_unit, others)
    # np.gradient BRANCHES on global spacing uniformity (function_base
    # gradient: `(diffx == diffx[0]).all()` reduces to the scalar-h
    # central difference (f₊−f₋)/(2h); only non-uniform axes take the
    # 3-coefficient stencil) — replicate the branch per frame with a
    # window max==min flag, else every interior point differs at the
    # last few ULPs (wave-50 pin).  __dx is materialized because the
    # uniformity aggregate can't nest the lag window.
    df = df.withColumn("__dx", x - F.lag(x).over(w))
    wp = Window.partitionBy(*others)
    df = df.withColumn("__uni",
                       F.max("__dx").over(wp) == F.min("__dx").over(wp))
    xm, xp = F.lag(x).over(w), F.lead(x).over(w)
    xm2, xp2 = F.lag(x, 2).over(w), F.lead(x, 2).over(w)
    hs, hd = F.col("__dx"), F.lead("__dx").over(w)
    uni = F.coalesce(F.col("__uni"), F.lit(False))
    exprs = []
    skip = ds._bcast_passthrough([coord])
    for c in ds.df.columns:
        if c in ds.data_vars and c not in skip:
            y = F.col(c).cast("double")
            ym, yp = F.lag(y).over(w), F.lead(y).over(w)
            ym2, yp2 = F.lag(y, 2).over(w), F.lead(y, 2).over(w)
            # non-uniform: numpy's exact coefficient association
            # (out = a·f₋ + b·f₀ + c·f₊, coefficients divided FIRST —
            # the algebraically-equal fused quotient differs at the
            # last ULP); uniform: (f₊−f₋)/(2h) exactly as numpy
            ia = -hd / (hs * (hs + hd))
            ib = (hd - hs) / (hs * hd)
            ic = hs / (hd * (hs + hd))
            interior = F.when(uni, (yp - ym) / (2 * hs)) \
                        .otherwise(ia * ym + ib * y + ic * yp)
            left = (yp - y) / hd
            right = (y - ym) / hs
            if edge_order == 2:
                # left edge: points (x₀,x₁,x₂), h1 = x₁−x₀, h2 = x₂−x₁
                h1l, h2l = hd, F.lead("__dx", 2).over(w)
                left2_nu = (-(2 * h1l + h2l) / (h1l * (h1l + h2l)) * y
                            + (h1l + h2l) / (h1l * h2l) * yp
                            - h1l / (h2l * (h1l + h2l)) * yp2)
                left2_u = (-1.5 * y + 2 * yp - 0.5 * yp2) / h1l
                left = F.when(xp2.isNotNull(),
                              F.when(uni, left2_u).otherwise(left2_nu)) \
                        .otherwise(left)
                # right edge: points (x₋₂,x₋₁,x), h1 = x₋₁−x₋₂, h2 = x−x₋₁
                h1r, h2r = F.lag("__dx").over(w), hs
                right2_nu = (h2r / (h1r * (h1r + h2r)) * ym2
                             - (h1r + h2r) / (h1r * h2r) * ym
                             + (2 * h2r + h1r) / (h2r * (h1r + h2r)) * y)
                right2_u = (0.5 * ym2 - 2 * ym + 1.5 * y) / h2r
                right = F.when(xm2.isNotNull(),
                               F.when(uni, right2_u).otherwise(right2_nu)) \
                         .otherwise(right)
            e = F.when(xm.isNull(), left).when(xp.isNull(), right).otherwise(interior)
            exprs.append(e.alias(c))
        else:
            exprs.append(F.col(c))
    return ds._replace(df=df.select(*exprs))


class XWeighted:
    """Weight-aware reductions (xarray/computation/weighted.py:135).

    weights = a data var name or a Column; NaN weights are treated as 0
    (reference masks them, weighted.py docstring)."""

    #: reference introspection names
    obj = property(lambda self: self.ds)
    weights = property(lambda self: self.w)

    def __init__(self, ds: XDataset, weights):
        if isinstance(weights, XDataset):
            # reference signature: weights is a DataArray — join it on
            # its dims as a temp column (aligned-object weighting)
            src = weights.data_vars[0]
            shared = [d for d in weights.dims if d in ds.df.columns]
            sub = weights.df.select(*shared, F.col(src).alias("__wt"))
            joined = (ds.df.join(sub, on=shared, how="left") if shared
                      else ds.df.crossJoin(F.broadcast(sub)))
            ds = ds._replace(df=joined)
            weights = "__wt"
        self.ds = ds
        self.w = F.col(weights) if isinstance(weights, str) else weights

    def _reduce(self, dim, make) -> XDataset:
        ds = self.ds
        dims = ds._norm_dim_arg(dim)
        keep = [d for d in ds.dims if d not in dims]
        coords = ds._coords_on(keep)
        # NaN weights act as 0 (reference masks them); true-NaN values
        # normalize to NULL so the isNotNull masks in the aggregate
        # builders skip them like numpy's nan* reductions
        w = F.coalesce(F.nanvl(self.w.cast("double"), F.lit(None).cast("double")),
                       F.lit(0.0))
        varlist = [v for v in ds.data_vars]
        aggs = [make(F.nanvl(F.col(v).cast("double"), F.lit(None).cast("double")),
                     w).alias(v)
                for v in varlist]
        keys = keep + list(coords)
        df = ds.df.groupBy(*keys).agg(*aggs) if keys else ds.df.agg(*aggs)
        return XDataset(df, keep, coords, varlist, ds.attrs)

    def sum(self, dim=None):
        # masked np.nansum: an all-NaN group reduces to 0.0, not missing
        return self._reduce(dim, lambda v, w: F.coalesce(
            F.sum(F.when(v.isNotNull(), v * w)), F.lit(0.0)))

    def mean(self, dim=None):
        return self._reduce(
            dim,
            lambda v, w: F.sum(F.when(v.isNotNull(), v * w)) / F.sum(F.when(v.isNotNull(), w)),
        )

    def sum_of_weights(self, dim=None):
        return self._reduce(dim, lambda v, w: F.sum(F.when(v.isNotNull(), w)))

    def _demeaned_sq(self, dim, normalize: bool) -> XDataset:
        """Two-pass Σw(v-μ)² like the reference (computation/weighted.py:262
        _sum_of_squares reduces (da - weighted_mean)² — it DEMEANS
        first).  The single-pass moment identity Σwv²-(Σwv)²/Σw loses
        ALL precision on offset data (v ≈ 1e8 ± 1 → engine 0.0 vs
        reference 0.81, round-9 probe), so pass 1 aggregates the
        label-sized weighted-mean table, broadcast-joins it back, and
        pass 2 reduces the squared deviations — one extra scan, exact.
        ``normalize`` divides by Σw (var); else the raw sum of squares."""
        from xarray_spark._utils import null_safe_join
        ds = self.ds
        dims = ds._norm_dim_arg(dim)
        keep = [d for d in ds.dims if d not in dims]
        coords = ds._coords_on(keep)
        keys = keep + list(coords)
        w = F.coalesce(F.nanvl(self.w.cast("double"),
                               F.lit(None).cast("double")), F.lit(0.0))
        varlist = list(ds.data_vars)
        vcol = lambda v: F.nanvl(F.col(v).cast("double"),  # noqa: E731
                                 F.lit(None).cast("double"))
        mean_aggs = [
            (F.sum(F.when(vcol(v).isNotNull(), vcol(v) * w))
             / F.sum(F.when(vcol(v).isNotNull(), w))).alias(f"__mu_{v}")
            for v in varlist]
        base = ds.df
        if keys:
            means = base.groupBy(*keys).agg(*mean_aggs)
            # group-count-sized table: no broadcast hint, AQE decides
            joined = null_safe_join(base, means, keys)
        else:
            means = base.agg(*mean_aggs)
            joined = base.crossJoin(F.broadcast(means))
        aggs = []
        for v in varlist:
            vd = vcol(v)
            dev = vd - F.col(f"__mu_{v}")
            sq = dev * dev
            # the reference's sums are NaN-masking at EVERY stage, so an
            # inf value (whose own deviation is inf−inf = NaN) drops out
            # of the squared-deviation sum while the other rows' inf
            # deviations remain → weighted var of {…, inf} is inf, not
            # NaN (round-9 fuzz find)
            # masked sums reduce an ALL-masked set to 0.0 (np.nansum),
            # so mixed ±inf values (mean NaN → every deviation NaN)
            # give var 0.0/Σw = 0.0 in the reference, not NaN
            num = F.coalesce(
                F.sum(F.when(vd.isNotNull() & ~F.isnan(sq), w * sq)),
                F.lit(0.0))
            if normalize:
                num = num / F.sum(F.when(vd.isNotNull(), w))
            aggs.append(num.alias(v))
        df = joined.groupBy(*keys).agg(*aggs) if keys else joined.agg(*aggs)
        return XDataset(df, keep, coords, varlist, ds.attrs)

    def sum_of_squares(self, dim=None):
        return self._demeaned_sq(dim, normalize=False)

    def var(self, dim=None):
        return self._demeaned_sq(dim, normalize=True)

    def std(self, dim=None):
        out = self.var(dim)
        return out.map(F.sqrt)

    def quantile(self, q: float, dim=None) -> XDataset:
        """Weighted quantile (xarray/computation/weighted.py:319,
        _weighted_quantile; method='linear' on the weighted CDF).

        Not a moment expression — needs the sorted weighted CDF — so
        each group runs as one Arrow batch through applyInPandas; the
        shuffle is the same complement-dims grouping every reduction
        uses.
        """
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from xarray_spark.dataset import _validate_q
        _validate_q(q if isinstance(q, (list, tuple)) else [q])
        ds = self.ds
        dims = ds._norm_dim_arg(dim)
        keep = [d for d in ds.dims if d not in dims]
        coords = ds._coords_on(keep)
        keys = keep + list(coords)
        varlist = list(ds.data_vars)
        w_expr = self.w
        df = ds.df.withColumn("__w", F.coalesce(w_expr.cast("double"), F.lit(0.0)))
        fields = [df.schema[k] for k in keys] + [
            T.StructField(v, T.DoubleType()) for v in varlist
        ]
        schema = T.StructType(fields)
        qf = float(q)

        def wq(vals: "np.ndarray", wts: "np.ndarray") -> float:
            # The weighted Hyndman-Fan type-7 estimator the reference
            # uses (computation/weighted.py:348 _weighted_quantile_1d,
            # after Akinshin's published reference implementation):
            # Kish effective sample size, h-index interpolation, and
            # per-sample weights from the clipped cumulative-weight
            # window — matches the reference's printed test values.
            m = ~np.isnan(vals) & (wts > 0)
            if not m.any():
                return float("nan")
            v, w = vals[m], wts[m]
            order = np.argsort(v)
            v, w = v[order], w[order]
            nw = w.sum() ** 2 / (w ** 2).sum()      # Kish effective n
            w = w / w.sum()
            wcum = np.append(0, np.cumsum(w))
            h = np.clip((nw - 1) * qf + 1, 1, nw)   # method='linear'
            u = np.maximum((h - 1) / nw, np.minimum(h / nw, wcum))
            vv = u * nw - h + 1
            return float((v * np.diff(vv)).sum())

        def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            out = {k: [pdf[k].iloc[0]] for k in keys}
            for v in varlist:
                out[v] = [wq(pdf[v].to_numpy(dtype=float), pdf["__w"].to_numpy(dtype=float))]
            return pd.DataFrame(out)

        res = df.groupBy(*keys).applyInPandas(apply_fn, schema)
        return XDataset(res, keep, coords, varlist, ds.attrs)


def apply_ufunc(
    func: Callable,
    *args: XDataset,
    input_core_dims: Sequence[Sequence[str]] | None = None,
    output_schema: str | T.StructType | None = None,
    vectorize: bool = False,
    kwargs: Mapping | None = None,
) -> XDataset:
    """UDF harness (xarray/computation/apply_ufunc.py:896).

    **No core dims (elementwise)** — the reference contract: ``func``
    receives one numpy array PER VARIABLE per input (same-named vars
    matched across inputs, like ``xr.apply_ufunc(np.add, a, b)``) and
    returns a same-length array; dims/coords pass through UNTOUCHED
    (wave-41 fix: the old whole-frame form silently transformed the
    dim columns too).  Runs as one Arrow ``mapInPandas`` pass — map
    only, no shuffle; numeric outputs land as double.

    **With input_core_dims** — the reference's chunk rule ("core dims
    cannot span chunks", apply_ufunc.py:764) becomes "core dims live
    within one group": group by the broadcast dims, run per group via
    applyInPandas.  In this form ``func`` keeps the engine's long-form
    contract: ONE pandas DataFrame per group in, one out (matching
    ``output_schema``), every input's variables as columns.
    ``kwargs`` are forwarded to ``func`` in both forms.
    """
    import numpy as np
    kw = dict(kwargs or {})
    if input_core_dims is None:
        first = args[0]
        common = [v for v in first.data_vars
                  if all(v in a.data_vars for a in args)]
        positional = False
        if not common and len(args) > 1:
            if all(len(a.data_vars) == 1 for a in args):
                # no same-named vars, every input single-var — the
                # xr.apply_ufunc(np.add, a, b) DataArray shape: match
                # positionally (the reference applies positionally for
                # arrays), name the output after the first input
                common = [first.data_vars[0]]
                positional = True
            else:
                raise ValueError(
                    "apply_ufunc: inputs share no same-named data "
                    "variables "
                    f"({[list(a.data_vars) for a in args]}); rename "
                    "them to match, or pass single-variable inputs "
                    "for positional matching")
        joined = first.df
        operands = {v: [v] for v in common}
        for i, a in enumerate(args[1:], start=1):
            shared = [d for d in a.dims if d in first.dims]
            if not shared:
                raise ValueError(
                    f"apply_ufunc inputs share no dims ({first.dims} "
                    f"vs {a.dims}); broadcast() them first")
            o_df = a.df.select(
                *shared,
                *[F.col(a.data_vars[0] if positional else v)
                  .alias(f"__in{i}_{v}") for v in common])
            joined = joined.join(o_df, on=shared, how="inner")
            for v in common:
                operands[v].append(f"__in{i}_{v}")
        out_cols = [c for c in first.df.columns]
        fields = []
        for c in out_cols:
            if c in common:
                fields.append(T.StructField(c, T.DoubleType()))
            else:
                fields.append(T.StructField(
                    c, first.df.schema[c].dataType))
        schema = (output_schema if output_schema is not None
                  else T.StructType(fields))

        def mapper(batches):
            for pdf in batches:
                out = pdf[[c for c in out_cols if c not in common]].copy()
                for v in common:
                    out[v] = np.asarray(func(
                        *[pdf[c].to_numpy() for c in operands[v]], **kw))
                yield out[[c for c in out_cols]]

        df = joined.mapInPandas(mapper, schema)
        return XDataset(df, first.dims, first.coords, common,
                        first.attrs)
    ds = args[0]
    if len(args) > 1:
        # align + merge variables of all inputs onto one frame
        joined = ds.df
        have = set(joined.columns)
        for other in args[1:]:
            shared = [d for d in other.dims if d in ds.dims]
            if not shared:
                raise ValueError(
                    f"apply_ufunc inputs share no dims ({ds.dims} vs "
                    f"{other.dims}); broadcast() them first"
                )
            o_df = other.df
            add = [v for v in other.data_vars if v not in have]
            o_df = o_df.select(*shared, *add)
            joined = joined.join(o_df, on=shared, how="inner")
            have |= set(add)
        all_vars = [c for c in joined.columns if c not in ds.dims and c not in ds.coords]
        ds = XDataset(joined, ds.dims, ds.coords, all_vars, ds.attrs)
    core = list(input_core_dims[0]) if input_core_dims else []
    broadcast_dims = [d for d in ds.dims if d not in core]
    schema = output_schema or ds.df.schema
    df = ds.df.groupBy(*broadcast_dims).applyInPandas(
        lambda pdf: func(pdf, **kw), schema)
    out_cols = [f.name for f in (schema if isinstance(schema, T.StructType) else df.schema)]
    dims = [d for d in ds.dims if d in out_cols]
    return XDataset(df, dims, {}, None, ds.attrs)
