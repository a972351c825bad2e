"""The benchmark's workloads: fixed subsets of ``queries()``.

Each workload names registry prefixes (``q01`` matches
``q01_pricing_summary``) and the input shape it runs on.  ``fact_mult``
multiplies the ``lineitem``/``orders`` row counts and splits those two
tables over several files (see ``datagen``).  Why each set was chosen is
in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    prefixes: tuple[str, ...]
    fact_mult: int = 1


WORKLOADS = {w.name: w for w in (
    Workload("array_ops", ("q02", "q06", "q07", "q10", "q13", "q21")),
    Workload("pipelines", ("q137", "q71", "q94"), fact_mult=10),
)}


def select(queries: dict, workload: Workload) -> dict:
    """The workload's entries of ``queries()``, in workload order."""
    by_prefix = {name.split("_", 1)[0]: name for name in queries}
    missing = [p for p in workload.prefixes if p not in by_prefix]
    if missing:
        raise KeyError(f"{workload.name}: no registry entry for {missing}")
    return {by_prefix[p]: queries[by_prefix[p]] for p in workload.prefixes}
