"""Shared expression helpers."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TEMPORAL = (T.TimestampType, T.DateType)
try:  # Spark ≥3.4
    _TEMPORAL = _TEMPORAL + (T.TimestampNTZType,)
except AttributeError:  # pragma: no cover
    pass


def to_double(col: Column, dtype: T.DataType) -> Column:
    """Numeric view of a column for distance/interpolation arithmetic.

    Timestamps (incl. TIMESTAMP_NTZ, which Spark 4 refuses to cast to
    double directly) go through a cast to session-TZ timestamp first →
    epoch seconds with fractional part.
    """
    if isinstance(dtype, _TEMPORAL):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def to_double_ns(col: Column, dtype: T.DataType) -> Column:
    """Epoch NANOSECONDS as double for temporal columns — the unit the
    reference hard-codes for polyfit/polyval (_ensure_numeric:
    datetime_unit='ns', offset 1970-01-01).  Exact route: unix_micros
    is an integer (epoch us ≈ 1.7e15 < 2^53, so the double is exact)
    and ×1000.0 rounds once — bit-equal to numpy's int-ns → float64."""
    if isinstance(dtype, _TEMPORAL):
        return F.unix_micros(col.cast("timestamp")) * F.lit(1000.0)
    return col.cast("double")


def is_temporal(dtype: T.DataType) -> bool:
    return isinstance(dtype, _TEMPORAL)


def two_phase_rank(df, col: str, materialize: bool = False):
    """Global 0-based position of each row by ``col`` — WITHOUT the
    partition-less ``row_number() OVER (ORDER BY col)`` that funnels every
    row through one task.

    Range-repartition on the column, rank locally per partition, then
    broadcast-join per-partition offsets (exclusive prefix sum over the
    tiny per-partition count table).  Adds ``__rnk`` (0-based global
    position) and ``__n`` (total row count) columns.  Ties may receive
    positions in arbitrary order — callers needing a total order must
    have distinct values (label tables do) or not care (order statistics
    don't).

    The ranked input is referenced TWICE (local ranks + the offset
    table); ``materialize=True`` computes it once behind a lazy
    localCheckpoint — pass it when the input is provably small (label
    tables).  Fact-sized callers (corpus sampling, value ranks) keep
    the default: re-executing a scan twice is cheaper at 100 TB than
    materializing the table.

    Built with selectExpr/SQL-string windows rather than chained
    Column-object calls: every DataFrame method is a py4j round trip
    PLUS an eager re-analysis of the accumulated plan, and this helper
    sits on the _dim_labels hot path of every label-table operator
    (measured round 13: ~96 ms/call of pure driver time before, ~3×
    fewer JVM calls after; same physical plan).
    """
    quoted = "`" + col.replace("`", "``") + "`"
    part = df.repartitionByRange(F.col(quoted).asc()).selectExpr(
        "*", "spark_partition_id() AS __pid")
    if materialize:
        part = part.localCheckpoint(eager=False)
    local = part.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY __pid ORDER BY {quoted} ASC)"
        " - 1 AS __lrank")
    offs = part.groupBy("__pid").count().selectExpr(
        "__pid",
        "CAST(coalesce(sum(`count`) OVER (ORDER BY __pid ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS __off",
        "CAST(sum(`count`) OVER () AS BIGINT) AS __n",
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .selectExpr("*", "CAST(__lrank + __off AS BIGINT) AS __rnk")
        .drop("__pid", "__lrank", "__off")
    )


def estimated_rows(df) -> float:
    """Lazy (no-job) row-count estimate from Catalyst plan statistics.

    Uses the optimized plan's CBO stats: the real ``rowCount`` when the
    optimizer knows it, else ``sizeInBytes`` divided by a conservative
    64 B/row.  File scans report true on-disk size, filters scale the
    estimate — crude, but free, and only used to pick between two
    EXACT execution strategies (global window vs segmented)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return float(str(rc.get()))
        return float(str(stats.sizeInBytes())) / 64.0
    except Exception:  # pragma: no cover - py4j edge cases
        return 0.0


# node names matched at TREE-NODE boundaries (start of a plan line,
# after the `+- ` / `:- ` / `:  ` indent art), not by raw substring:
# an attribute named `AggregateRevenue#12` or a ' parquet' inside a
# string literal must not reclassify a fact-shaped plan as derived
_DERIVED_NODES_RE = None  # compiled lazily below
_FILE_SOURCES_RE = None


def _plan_predicates():
    global _DERIVED_NODES_RE, _FILE_SOURCES_RE
    if _DERIVED_NODES_RE is None:
        import re
        _DERIVED_NODES_RE = re.compile(
            r"^[\s+:\-]*(?:Aggregate|Deduplicate|GlobalLimit)\b", re.M)
        _FILE_SOURCES_RE = re.compile(
            r"^[\s+:\-]*(?:Streaming)?Relation\b.*\s"
            r"(?:parquet|orc|csv|json|avro)\s*$", re.M)
    return _DERIVED_NODES_RE, _FILE_SOURCES_RE


def materialize_if_derived(df):
    """Truncate a DERIVED (already-reduced) plan behind a lazy
    localCheckpoint so that N later references compute it once instead
    of N times.

    Multi-reference operators (concat probes + union + joinback, align
    conform) re-execute their input's full sub-plan per reference; when
    that input is itself an aggregation/join the recomputation — and
    the resulting Catalyst plan explosion — dominates (measured: q142's
    final plan re-scanned its parquet source 30×).  A plan containing
    a REDUCTION node (Aggregate / Deduplicate / GlobalLimit) is
    DERIVED: its output is reduced, label-table-shaped data, safe to
    materialize.  Anything else — bare scans, but also
    joins/windows/explodes over fact tables, which do NOT reduce
    cardinality — is returned unchanged: at 100 TB a fact-sized table
    must never be checkpointed, and re-scanning it is cheap (columnar,
    pruned, pushed-down).  Corner accepted: a groupBy on a
    high-cardinality key is "derived" yet still big; materializing it
    once is still strictly cheaper than the N re-executions this
    helper replaces.

    ``eager=False``: the first probe job materializes it; every later
    job and the final query read the stored partitions (plan shows a
    LogicalRDD scan).  Intra-query only — nothing survives the
    DataFrame, so repeated bench/oracle invocations recompute from
    parquet.

    Fault-tolerance caveat (cluster deployments): localCheckpoint
    stores partitions on executors with lineage truncated — an
    executor loss mid-query makes the materialized input
    unrecoverable and fails the job, where the re-execution path
    would recompute.  Acceptable for label-table-shaped (reduced)
    data on a single node; clusters wanting resilience should swap
    in reliable ``spark.checkpoint`` via this one call site."""
    # vars(), not getattr: on a miss DataFrame.__getattr__ would look
    # the name up in df.columns, a py4j schema round trip
    cached = vars(df).get("_xs_materialized")
    if cached is not None:
        return cached
    try:
        if df.isStreaming:
            return df
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:  # pragma: no cover - py4j edge cases
        return df
    # two gates: (1) a reduction node — the output is reduced,
    # label-table-shaped, safe to store; (2) a FILE source leaf —
    # literal inputs (LocalRelation from createDataFrame, range) are
    # free to recompute, and checkpointing them taxes every tiny
    # in-memory dataset (measured: the unit suite slowed ~3× before
    # this gate) while saving nothing
    derived_re, files_re = _plan_predicates()
    derived = derived_re.search(tree) is not None
    from_files = files_re.search(tree) is not None
    out = (df.localCheckpoint(eager=False)
           if (derived and from_files) else df)
    try:
        # memo on the (immutable) DataFrame: align runs on every binary
        # op — don't re-render the plan tree per call, and never stack
        # a second checkpoint on an already-materialized frame
        df._xs_materialized = out
    except Exception:  # pragma: no cover
        pass
    return out


def local_df(spark, rows, schema):
    """Literal (driver-side) rows → DataFrame in one slice per Arrow
    batch, read by the JVM with no Python worker.

    ``spark.createDataFrame(list)`` pickles the rows into
    ``defaultParallelism`` slices, and every task reading a slice pays
    a Python-worker round trip (32 rows + coalesce(2): 2.5 s at
    local[32] vs 0.09 s here).  The Arrow local path converts the rows
    driver-side into batches; rows Arrow cannot represent, and every
    row when the session disables Arrow, fall back to a few-slice
    parallelize, or to the list path when they hold a naive datetime.
    Object-dtype pandas keeps None as null.

    ``ceil(n / arrow.maxRecordsPerBatch)`` slices make a label-sized
    table ONE slice, so a Python map over it runs one task: each task
    costs ~0.25 CPU-s fixed on CPython 3.11, whatever its rows (57 % in
    the worker's ``importlib.invalidate_caches()``, which re-reads
    pyspark.zip per cached zipimporter; identity mapInPandas over 32
    rows, 4 vCPU).
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)

    def _fallback():
        if any(_naive_datetime(r) for r in rows):
            # the list path converts naive datetimes on the driver;
            # parallelize would convert them in the Python workers, in
            # THEIR local tz
            return spark.createDataFrame(rows, schema)
        n = max(1, min(4, (len(rows) + 255) // 256))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n), schema)

    if spark.conf.get("spark.sql.execution.arrow.pyspark.enabled",
                      "false").lower() != "true":
        # without Arrow createDataFrame(pdf) pickles the rows too, and
        # the coalesce below would serialize their worker handshakes
        return _fallback()
    try:
        import pandas as pd
        struct = None
        if hasattr(schema, "fields"):
            struct = schema
        elif not isinstance(schema, (list, tuple)):
            from pyspark.sql.types import _parse_datatype_string
            struct = _parse_datatype_string(schema)
        # tz-TimestampType parity with the list path: list-input
        # createDataFrame interprets NAIVE datetimes as DRIVER-LOCAL
        # wall time, the Arrow local path as SESSION wall time — on a
        # non-UTC driver with a UTC session they differ (round-9 midbin
        # regression test).  Localizing naive values to the driver tz
        # BEFORE conversion reproduces the list semantics exactly.
        # TIMESTAMP_NTZ is wall-clock in both paths — left untouched.
        # Nested timestamps take the list path itself.
        if struct is not None:
            if any(_nested_timestamp(f.dataType) for f in struct.fields):
                return spark.createDataFrame(rows, schema)
            cols = list(struct.fieldNames())
            ltz = [isinstance(f.dataType, T.TimestampType)
                   for f in struct.fields]
        else:
            cols = list(schema)
            # names-only: inference maps naive datetimes to the session
            # default timestamp type (LTZ unless overridden)
            is_ltz_default = "NTZ" not in str(
                spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ"))
            ltz = [is_ltz_default] * len(cols)

        def _conv(x, to_ltz):
            if to_ltz and isinstance(x, _dt.datetime) and x.tzinfo is None:
                if hasattr(x, "to_pydatetime"):
                    x = x.to_pydatetime()
                return x.astimezone()  # attach driver-local tz
            return x

        if any(ltz):
            rows = [tuple(_conv(x, f) for x, f in zip(r, ltz))
                    for r in rows]
        pdf = pd.DataFrame(rows, columns=cols, dtype=object)
        # Arrow slices come in defaultParallelism; coalescing them is a
        # JVM-side read (never coalesce the pickle path's slices)
        step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        parts = -(-len(rows) // step) if step > 0 else 1
        return spark.createDataFrame(pdf, schema=schema).coalesce(parts)
    except Exception:
        return _fallback()


def _naive_datetime(x) -> bool:
    """A naive ``datetime`` at or inside ``x`` (tuple, list or dict)."""
    if isinstance(x, _dt.datetime):
        return x.tzinfo is None
    if isinstance(x, dict):
        x = [*x.keys(), *x.values()]
    return isinstance(x, (tuple, list)) and any(map(_naive_datetime, x))


def _nested_timestamp(dtype: T.DataType) -> bool:
    """A TimestampType inside a struct, array or map type."""
    if isinstance(dtype, T.ArrayType):
        kids = [dtype.elementType]
    elif isinstance(dtype, T.MapType):
        kids = [dtype.keyType, dtype.valueType]
    elif isinstance(dtype, T.StructType):
        kids = [f.dataType for f in dtype.fields]
    else:
        return False
    return any(isinstance(k, T.TimestampType) or _nested_timestamp(k)
               for k in kids)


def arrow_map(df, fn, schema: T.StructType):
    """``df.mapInArrow(fn, schema)`` that fuses with the map below it.

    ``fn`` maps an iterator of ``pyarrow.RecordBatch`` to an iterator
    of batches; every batch it yields is cast to ``schema``'s Arrow
    type, so a stage sees the same column types whether its input came
    fused or through the JVM.  When ``df`` is the direct, untransformed
    output of another ``arrow_map``, the two functions are composed
    over that map's input and plan as ONE Python node: every Python
    node costs one worker task per input slice, and each task carries
    a fixed ~0.25 CPU-s (see ``local_df``).  Anything in between — a
    select, filter, join or cache — breaks the fusion, which is
    correct: the later stage must see that operator's output.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)

    def stage(batches):
        for b in fn(batches):
            yield b if b.schema.equals(target) else b.cast(target)

    below = vars(df).get("_xs_arrow_map")
    if below is not None and not df.is_cached:
        src, inner = below

        def run(batches):
            return stage(inner(batches))
    else:
        src, run = df, stage
    out = src.mapInArrow(run, schema)
    out._xs_arrow_map = (src, run)
    return out


def parse_iso8601_prefix(s: str):
    """Parse an ISO8601-like prefix string into a half-open datetime
    range ``(start, end, resolution)`` — the engine's analogue of
    pandas/xarray partial-string time indexing
    (xarray/coding/times.py parse_iso8601_like; pandas
    DatetimeIndex.__getitem__ partial-string semantics).

    '2001' -> the year, '2001-03' -> the month, '2001-03-05' -> the day,
    '2001-03-05T12' -> the hour, down to seconds (resolution 'second',
    where start == the exact instant).  Returns None when the string is
    not ISO8601-like (caller falls back to exact-label equality).
    """
    import datetime as dt
    import re

    m = re.fullmatch(
        r"(?P<y>\d{4})"
        r"(?:-(?P<mo>\d{1,2})"
        r"(?:-(?P<d>\d{1,2})"
        r"(?:[ T](?P<h>\d{1,2})"
        r"(?::(?P<mi>\d{1,2})"
        r"(?::(?P<s>\d{1,2})(?:\.(?P<f>\d{1,6}))?)?)?)?)?)?",
        s.strip(),
    )
    if m is None:
        return None
    g = m.groupdict()

    def _add_month(t, n=1):
        y, mo = divmod(t.year * 12 + (t.month - 1) + n, 12)
        return t.replace(year=y, month=mo + 1)

    try:
        if g["mo"] is None:
            start = dt.datetime(int(g["y"]), 1, 1)
            return start, start.replace(year=start.year + 1), "year"
        if g["d"] is None:
            start = dt.datetime(int(g["y"]), int(g["mo"]), 1)
            return start, _add_month(start), "month"
        if g["h"] is None:
            start = dt.datetime(int(g["y"]), int(g["mo"]), int(g["d"]))
            return start, start + dt.timedelta(days=1), "day"
        if g["mi"] is None:
            start = dt.datetime(int(g["y"]), int(g["mo"]), int(g["d"]), int(g["h"]))
            return start, start + dt.timedelta(hours=1), "hour"
        if g["s"] is None:
            start = dt.datetime(int(g["y"]), int(g["mo"]), int(g["d"]),
                                int(g["h"]), int(g["mi"]))
            return start, start + dt.timedelta(minutes=1), "minute"
        micro = int((g["f"] or "0").ljust(6, "0"))
        start = dt.datetime(int(g["y"]), int(g["mo"]), int(g["d"]),
                            int(g["h"]), int(g["mi"]), int(g["s"]), micro)
        return start, start + dt.timedelta(seconds=1), "second"
    except ValueError:
        return None


def is_negative(col: Column) -> Column:
    """True for negatives INCLUDING -0.0 (detected via the string
    render — Spark has no signbit builtin)."""
    d = col.cast("double")
    return (d < 0) | ((d == 0) & d.cast("string").startswith("-"))


def ieee_div(a: Column, b: Column) -> Column:
    """IEEE-754 float division (numpy semantics): x/0 → ±inf, 0/0 and
    nan/0 → nan.  Spark's `/` ERRORS on a zero divisor under ANSI mode
    (the Spark 4 default) and yields NULL otherwise — neither is what a
    reference user gets.  CASE branches evaluate lazily per row, so the
    raw division never sees a zero divisor."""
    ad, bd = a.cast("double"), b.cast("double")
    zero_b = bd == 0
    nan_out = F.isnan(ad) | (ad == 0)
    sign_neg = is_negative(ad) != is_negative(bd)
    return (
        # missing dividend/divisor stays missing (NULL&zero_b would
        # otherwise skip the nan branch and fall through to ±inf)
        F.when(ad.isNull() | bd.isNull(), F.lit(None).cast("double"))
        .when(zero_b & nan_out, F.lit(float("nan")))
        .when(zero_b, F.when(sign_neg, F.lit(float("-inf")))
              .otherwise(F.lit(float("inf"))))
        .otherwise(ad / bd)
    )


def ieee_mod(a: Column, b: Column) -> Column:
    """numpy mod / Python %: floored division remainder (sign follows
    the DIVISOR); x % 0 → nan instead of an ANSI error."""
    ad, bd = a.cast("double"), b.cast("double")
    # ieee_floor: raw FLOOR returns BIGINT, which ANSI-overflows when
    # the ratio is ±inf (np.mod(inf, 2) must be nan) or ≥2^63
    return F.when(bd == 0, F.lit(float("nan"))) \
            .otherwise(ad - ieee_floor(ad / bd) * bd)


def ieee_fmod(a: Column, b: Column) -> Column:
    """C fmod (sign follows the DIVIDEND — Spark's native %);
    x fmod 0 → nan instead of an ANSI error."""
    ad, bd = a.cast("double"), b.cast("double")
    return F.when(bd == 0, F.lit(float("nan"))).otherwise(ad % bd)


def ieee_floor(c: Column) -> Column:
    """floor that passes ±inf/nan through as doubles (SQL FLOOR returns
    BIGINT, overflowing on ±inf).  Finite doubles ≥2^63 are already
    integral (double mantissa is 53 bits) — pass them through too
    instead of hitting the ANSI BIGINT overflow."""
    d = c.cast("double")
    return F.when(F.isnan(d) | (F.abs(d) >= F.lit(2.0 ** 63)), d) \
            .otherwise(F.floor(d).cast("double"))


def null_safe_join(left, right, keys, how: str = "inner"):
    """Equi-join on ``keys`` with NULL-safe equality.

    ``df.join(other, on=[names])`` uses null-UNSAFE ``=``: groupBy
    preserves NULL key/coord labels, so joining two per-group
    aggregates back together on the group keys silently drops the
    NULL-labeled groups.

    Implemented by packing the keys into ONE struct column and
    joining on it: Spark compares struct fields with ordering
    semantics (NULL == NULL, NaN == NaN — exactly groupBy's grouping
    semantics), and a struct key keeps the plain BroadcastHashJoin /
    SortMergeJoin fast path with whole-stage codegen.  ``eqNullSafe``
    conditions would be null-safe too but fall off the codegen hash
    path (measured 10× slower on a 90M-row broadcast join)."""
    if not keys:
        return left.crossJoin(right)
    if how not in ("inner", "left", "left_semi", "semi", "leftsemi"):
        raise ValueError(f"null_safe_join does not support how={how!r}"
                         " (right side's key columns are dropped)")
    pack = F.struct(*[F.col(k).alias(f"_{i}")
                      for i, k in enumerate(keys)])
    lj = left.withColumn("__nsj_key__", pack)
    rj = right.withColumn("__nsj_key__", pack).drop(*keys)
    return lj.join(rj, on="__nsj_key__", how=how).drop("__nsj_key__")


def nan_to_null(df, varlist, schema):
    """Normalize true-NaN doubles to NULL (the engine's missing-value
    sentinel) on the given float/double vars before a skipna-respecting
    aggregation.  Computed NaN (0/0, poison literals) and non-Arrow
    ingestion are the two paths that produce genuine NaN values; SQL
    aggregates would otherwise rank them as the LARGEST double instead
    of skipping them like numpy's nan* reductions."""
    for v in varlist:
        if isinstance(schema[v].dataType, (T.FloatType, T.DoubleType)):
            df = df.withColumn(v, F.nanvl(F.col(v), F.lit(None).cast("double")))
    return df


# --------------------------------------------------------------- min/max
#
# Resample anchor/origin lookups, SeasonResampler trims and integer
# groupby_bins all need the min/max of ONE column.  Through round 10
# each call site issued its own one-row aggregation JOB at operator
# CONSTRUCTION time — cheap in isolation, but the driver's cold-JIT
# minutes amplify small driver-paced jobs 2-3x (BENCH_r10 early-window
# block; round-10 verdict #1).  This helper makes the lookup
# (a) BATCHED  — min and max come back from one job, so origin= and
#     calendar anchors on the same dim share it;
# (b) CACHED   — keyed on the CANONICALIZED plan of df.select(col)
#     plus the scan's input files (canonicalization normalizes exprIds,
#     so two reads of the same parquet path in one session hit; the
#     file list disambiguates same-shaped plans over different paths —
#     the canonical string itself omits the location), so a 139-query
#     session pays each distinct lineage once;
# (c) JOB-FREE for raw scan columns — when select(col) optimizes to a
#     bare column projection over a parquet relation, min/max are read
#     from the parquet FOOTER statistics driver-side (pyarrow): exact
#     for temporal/numeric physical types, no Spark job at all.  At
#     cluster scale this is the aggregate-pushdown plan without
#     flipping the session to DSv2 readers.  Capped at _FOOTER_MAX_FILES
#     footers; bigger file sets fall back to the (cached) Spark job,
#     which scans one column.

_MINMAX_CACHE: dict = {}
_MINMAX_CACHE_MAX = 512
_FOOTER_MAX_FILES = 256


def _plan_min_max_key(proj) -> tuple | None:
    """Cache key for df.select(col): (canonicalized plan, input files).
    None (uncacheable) for plans with in-memory leaves — LocalRelation /
    LogicalRDD print schema but not data, so two different literal
    frames would collide."""
    try:
        canon = (proj._jdf.queryExecution().analyzed()
                 .canonicalized().toString())
        if ("LocalRelation" in canon or "LogicalRDD" in canon
                or "ExistingRDD" in canon):
            return None
        files = tuple(sorted(proj.inputFiles()))
        if not files:
            return None
        # fold (size, mtime) in so an external writer overwriting a
        # parquet file IN PLACE under the same name (deterministic part
        # names, non-Spark writers) invalidates the cached min/max;
        # remote / non-statable paths key on the path alone
        import os
        stamped = []
        for f in files:
            p = f[7:] if f.startswith("file://") else f
            try:
                st = os.stat(p)
                stamped.append((f, st.st_size, st.st_mtime_ns))
            except OSError:
                stamped.append((f, -1, -1))
        return (canon, tuple(stamped))
    except Exception:  # pragma: no cover - py4j surface drift
        return None


def _footer_min_max(proj, col: str):
    """(min, max) from parquet footer statistics, or None when the
    projection is not a bare raw-column scan (any Filter/computed
    column disqualifies), a footer lacks exact stats, or the file set
    is too large to walk driver-side.  Only temporal/integral columns
    qualify: float stats can disagree with F.min under NaN (NaN ranks
    largest in Spark but is dropped/poisoned by parquet writers) and
    string/decimal footer stats may be truncated."""
    if not isinstance(proj.schema[col].dataType,
                      _TEMPORAL + (T.ByteType, T.ShortType,
                                   T.IntegerType, T.LongType)):
        return None
    if isinstance(proj.schema[col].dataType, T.TimestampType):
        # parquet footer stats for instant timestamps are UTC
        # (isAdjustedToUTC) while the Spark-job fallback renders them in
        # the session timezone — the two paths only agree when the
        # session is pinned to UTC (the repo's own get_spark does; a
        # user-supplied session may not).  Skip the footer shortcut
        # otherwise so the cached value can never be tz-shifted.
        try:
            tz = proj.sparkSession.conf.get(
                "spark.sql.session.timeZone", "UTC")
        except Exception:  # pragma: no cover
            tz = None
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00", "UTC+00:00"):
            return None
    try:
        plan = proj._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "Project":
            pl = plan.projectList()
            if (pl.size() != 1 or pl.apply(0).getClass().getSimpleName()
                    != "AttributeReference"):
                return None
            plan = plan.child()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        if "parquet" not in plan.simpleString(120).lower():
            return None
        files = [f[7:] if f.startswith("file://") else f
                 for f in proj.inputFiles()]
    except Exception:  # pragma: no cover
        return None
    if not files or len(files) > _FOOTER_MAX_FILES:
        return None
    import pyarrow.parquet as pq
    mn = mx = None
    try:
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            if col not in names:
                return None
            ci = names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo, hi = st.min, st.max
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
    except Exception:
        return None
    return mn, mx


def dim_min_max(df, col: str):
    """(min, max) of one column as pandas Timestamps (temporal) or raw
    values — at most ONE Spark job, plan-fingerprint cached, parquet
    footers when the column is a raw scan.  (None, None) on empty/
    all-null input."""
    import pandas as pd
    proj = df.select(col)
    key = _plan_min_max_key(proj)
    if key is not None and key in _MINMAX_CACHE:
        return _MINMAX_CACHE[key]
    out = _footer_min_max(proj, col)
    if out is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        out = (row["lo"], row["hi"])

    def _norm(v):
        if v is None or not is_temporal(df.schema[col].dataType):
            return v
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t

    out = (_norm(out[0]), _norm(out[1]))
    if key is not None:
        if len(_MINMAX_CACHE) >= _MINMAX_CACHE_MAX:
            _MINMAX_CACHE.clear()
        _MINMAX_CACHE[key] = out
    return out
