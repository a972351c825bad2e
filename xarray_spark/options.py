"""Engine options (reference: xarray/core/options.py:418 OPTIONS +
set_options context manager).

- ``arithmetic_join``: the align mode of auto-aligning binary ops
  (xarray OPTIONS['arithmetic_join']; default 'inner').
- ``keep_attrs``: whether attrs survive operators (catalog-side).
- ``grouped_quantile_plan``: the exact grouped quantile/median plan
  (Dataset.quantile over some dims, GroupBy.quantile/median).
  ``'auto'`` (default) picks by group size against the round-8
  measured crossovers (``dataset._grouped_quantile_plan``); ``'buffer'``
  (one sorted collect_list aggregate per group), ``'midbin'`` (two-scan
  1/16-octave bucket selection) or ``'hist'`` (4-pass equi-width
  histogram selection, never buffers a group) force one.  All three
  plans are exact — the choice is cost, not result.

Two row-count thresholds that no caller sets are module constants, not
options: :data:`AUTO_SEGMENT_THRESHOLD` and
:data:`ROLLING_ARROW_EST_ROWS_BOUND`.  Readers look them up on this
module at call time, so a test can ``monkeypatch.setattr`` them.
"""

from __future__ import annotations

OPTIONS: dict = {
    "arithmetic_join": "inner",
    "keep_attrs": True,
    "grouped_quantile_plan": "auto",
}

#: Window ops over a dim with NO complement dims (the single-task
#: shape) automatically dispatch to the segmented implementations once
#: the series is estimated to reach this many rows.  The estimate is
#: Catalyst plan statistics (_utils.estimated_rows) — lazy, no count()
#: action — and both strategies are exact, so a wrong estimate costs
#: only plan choice, never correctness.  2M rows ≈ the point where a
#: one-task global window becomes the job's straggler; None = always
#: use the global window.
AUTO_SEGMENT_THRESHOLD: int | None = 2_000_000

#: MEMORY guard on the grouped Arrow rolling kernel (round-10 ADVICE
#: #2): applyInPandas materializes each complement-dim group as ONE
#: pandas frame, so a long rolled dim with few groups could OOM where
#: the in-plan window streams.  When the table's ESTIMATED rows (plan
#: statistics, no job) exceed this bound and complement dims exist
#: (the grouped shape — the no-complement shape is halo-segmented and
#: memory-bounded already), rolling var/std/median falls back to the
#: in-plan HOF/collect_list form: slower per row but streaming.  The
#: bound is deliberately generous (64M rows ≈ a few GB of Arrow frame
#: across groups — only pathological one-group skew goes over per
#: task).  None = never fall back.
ROLLING_ARROW_EST_ROWS_BOUND: int | None = 64_000_000

_VALID = {
    "arithmetic_join": {"inner", "outer", "left", "right"},
    "grouped_quantile_plan": {"auto", "buffer", "midbin", "hist"},
}


class set_options:
    """Context manager / global setter (xarray.set_options parity).

    >>> with set_options(arithmetic_join="outer"):
    ...     c = a + b
    """

    def __init__(self, **kwargs):
        self._old = {}
        for k, v in kwargs.items():
            if k not in OPTIONS:
                raise ValueError(f"unknown option {k!r}; valid: {sorted(OPTIONS)}")
            if k in _VALID and v not in _VALID[k]:
                raise ValueError(f"option {k}={v!r}; valid: {sorted(_VALID[k])}")
            self._old[k] = OPTIONS[k]
            OPTIONS[k] = v

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        OPTIONS.update(self._old)


def get_options() -> dict:
    """Snapshot of the current options (xarray.get_options parity)."""
    return dict(OPTIONS)
