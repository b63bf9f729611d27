"""The benchmark's named workloads: which registry queries one pass runs,
and at which scale the tables are generated. The README records
why each workload was chosen."""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: registry name prefixes (``q01``, ``x02``, ``qs12``); unless
    #: ``fixed_order``, the run's seed fixes their order within a pass
    queries: tuple[str, ...]
    #: scale factor of the generated tables (sf 1 = 6M lineitem rows)
    sf: float
    #: the order changes the work measured, so it is part of the workload
    #: and the seed leaves it alone: queries that share working sets
    #: through ``plan_memo``, or a short pass in which the first query
    #: still pays the JIT ramp that later queries no longer do
    fixed_order: bool = False

    def order(self, seed: int) -> list[str]:
        names = list(self.queries)
        if not self.fixed_order:
            random.Random(seed).shuffle(names)
        return names


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "catalog_sf001",
            tuple(f"q{i:02d}" for i in range(1, 38)),
            sf=0.01,
        ),
        Workload(
            "dedup_session_sf001",
            ("x02", "x03", "x25", "x36", "x59", "x63", "x89", "x66", "x67"),
            sf=0.01,
            fixed_order=True,
        ),
        Workload(
            "ingest_folds_sf001",
            ("qs6", "qs12", "qs17"),
            sf=0.01,
            fixed_order=True,
        ),
    )
}


def resolve(registry: dict, prefixes: list[str]) -> list[str]:
    """Full registry names for ``qNN``/``xNN``/``qsNN`` prefixes, in order."""
    by_prefix = {name.split("_", 1)[0]: name for name in registry}
    missing = [p for p in prefixes if p not in by_prefix]
    if missing:
        raise KeyError(f"queries not in the registry: {missing}")
    return [by_prefix[p] for p in prefixes]
