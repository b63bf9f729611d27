"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query — the reference's serving-layer
  aggregate (consumer.scala:157-188) over sf0.001 events.
- ``queries()`` / ``oracle_sql()``: one entry per implemented operator
  from SURVEY.md §2.12, sourced from the engine's query catalog
  (twitter_kafka_etl_spark/plans/catalog.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from twitter_kafka_etl_spark.io import read_table
from twitter_kafka_etl_spark.pipeline import enrich_rule_based, topic_aggregates
from twitter_kafka_etl_spark.plans import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: enrich events with sentiment/emotion labels, then the
    reference's two-branch aggregate (positivity rate ⋈ emotion pivot)."""
    events = read_table(spark, "/root/testdata/sf0.001", "events")
    enriched = enrich_rule_based(
        events.withColumnRenamed("event_type", "topic")
    )
    return topic_aggregates(enriched)


# Queries whose Spark plan was rewritten in the named round AFTER their
# last driver verification: the driver has never hashed the new plan, so
# they jump the rotation queue until a driver check at-or-after the
# rewrite round lands.
#
# DO NOT hand-add per-query entries here. Since r10, rewrites are
# declared at the OPERATOR level in _REWRITTEN_OPS below and expanded
# to consumer queries mechanically — see _effective_rewritten(). This
# dict exists only for the (rare) case the impact graph cannot express:
# a semantic change with no touched engine function or oracle constant
# (none so far). The r7–r9 hand-maintained history that used to live
# here became dead weight once every entry's round was ≤ its latest
# driver green (r10 verdict process nit); see git history for the
# entries and their rationales.
_REWRITTEN_IN: dict[str, int] = {
    # r14: a coalesce(1) width experiment was applied to this builder
    # and REVERTED in-round (measured 6x slower — the fixture decode
    # is real parallel CPU work; see OPTIMIZATION_r14.md). The
    # registered plan is identical to r13's, but this is the single
    # r10-green query the r14 operator expansion does not reach, and
    # fronting it completes the r13 verdict's rotation-debt target
    # (all 23 r10-green rows re-verify in CORRECTNESS_r14, leaving no
    # latest-green older than r11).
    "x103_media_decode": 14,
}

# Rewrites declared at the OPERATOR level, expanded to the registered
# consumers mechanically by the package reference graph
# (twitter_kafka_etl_spark/plans/impact.py) — replaces the hand scan
# for "every registered consumer that EMBEDS the touched subtree"
# that r9's review had to derive manually (r9 verdict finding #2; the
# advisor caught the x66 it missed). Targets may be engine functions
# OR module-level oracle constants (shared SQL CTEs are graph nodes
# too). A typo'd target raises loudly at expansion time and the unit
# tests exercise the expansion, so a bookkeeping slip can no longer
# silently starve a consumer of re-verification. Entries become dead
# weight once every expanded consumer's latest driver green is ≥ the
# entry's round; dead entries may be deleted (git history keeps the
# record — the r10 batch was removed in r11 after CORRECTNESS_r10
# hashed all six consumers green).
_REWRITTEN_OPS: dict[str, int] = {
    # (r12/r13 entries pruned: every expanded consumer re-hashed green
    # in CORRECTNESS_r13 — 50/50, covering the full 37-query r13
    # expansion — so each entry's round ≤ its consumers' latest green.
    # See git history for the entries and their rationales.)
    #
    # r14 OPTIMIZATION round (2/2):
    #
    # read_table's rebalance width now FOLLOWS THE DATA —
    # min(cores, ceil(footer_rows / 128)) instead of an unconditional
    # repartition(cores) — so small-SF scans stop paying one
    # near-empty task per core (the r13 scaling block's anti-scaling
    # rows). Values are partition-order-independent by construction
    # (no sampling/ids/partition functions anywhere in operator code);
    # plans changed for every rebalance consumer at the verification
    # SFs.
    "io.read_table": 14,
    # connected_components: the edge checkpoint and each round's label
    # checkpoint went LAZY, folding their materialization into the
    # sizing count / convergence aggregate — one driver-job gap per
    # round instead of two, same labels (test-asserted).
    "operators.dedup.connected_components": 14,
    # plan_memo/peek_memo: memo entries carry a materialized flag so
    # an eager request that hits (or loses a race to) a lazily-built
    # entry materializes it then (r13 advice); _repin gains the
    # cluster-hardening full-partition count() probe (r13 verdict
    # item 7). Hit-path internals changed for every memoized
    # working set's consumers.
    "operators._cache.plan_memo": 14,
    "operators._cache.peek_memo": 14,
    # qs14/qs16/qs17 derive their arrival-schedule width from parquet
    # footer statistics (io.parquet_footer_max) instead of a per-run
    # Spark max() job — same value, one less job per build.
    "streaming.queries._max_doc_id": 14,
    # qs12/qs14/qs17 ingest folds submit their independent per-batch
    # side-table overwrites from concurrent driver threads (guide
    # §2.6); qs17 additionally replaced its hit-set
    # semi-join→union→distinct→anti shape with two chained anti-joins
    # (one less exchange per micro-batch, same kept set).
    "streaming.queries._concurrent_actions": 14,
    # qs6's running-total accumulation uses np.nansum, restoring
    # Series.sum's skipna semantics on null values (r13 advice; no
    # value change on null-free data).
    "streaming.stateful.running_user_totals": 14,
}
# NOT registered: _order_files' numeric-aware sort — for every staging
# the committed queries produce (≤10 single-digit "__f=N" dirs) the
# numeric and lexicographic orders are identical, so no registered
# plan changed; the divergence is only reachable at probe batch
# counts (>10 files).


def _effective_rewritten() -> dict[str, int]:
    """Manual per-query entries ∪ the mechanical expansion of
    ``_REWRITTEN_OPS`` (max round wins on overlap)."""
    from twitter_kafka_etl_spark.plans.impact import rewritten_queries

    out = dict(_REWRITTEN_IN)
    for name, rnd in rewritten_queries(_REWRITTEN_OPS).items():
        out[name] = max(out.get(name, 0), rnd)
    return out


def _latest_green(history_dir: str | None = None) -> dict[str, int]:
    """Latest round each query went green in the driver's correctness
    files (``CORRECTNESS_r*.json``). Missing/never-checked → round 0.

    A row counts as green when rows+schema match and hash_match is not
    an explicit False (hash-less rows-only checks still count as that
    round's verification — the driver records them for non-SQL ops).
    """
    import glob
    import json
    import re

    base = history_dir or os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(base, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path, encoding="utf-8") as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # valid JSON but not a correctness map — skip it
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _rotation_order(
    names,
    latest_green: dict[str, int],
    rewritten_in: dict[str, int] | None = None,
) -> list[str]:
    """Emission order for the driver's per-round correctness pass.

    The driver caps its file at exactly 50 entries in emission order,
    so ordering IS the verification window. Rule (oldest debt first):

    1. Queries rewritten since their last driver check (their recorded
       green predates the plan now in the repo) — the driver must hash
       the new plan before anything else re-verifies.
    2. Everything else by latest-green round ascending (never-checked
       sorts as round 0, i.e. first), tie-broken by name for a stable,
       diffable window.
    """
    # default to the FULL effective map (manual ∪ operator-level
    # expansion): now that _REWRITTEN_IN is empty by policy, falling
    # back to it would silently disable stale-rewrite fronting for any
    # caller that omits the argument (r11 review finding)
    rewritten = (
        rewritten_in if rewritten_in is not None else _effective_rewritten()
    )

    def key(name: str) -> tuple[int, int, str]:
        green = latest_green.get(name, 0)
        stale_rewrite = rewritten.get(name, 0) > green
        return (0 if stale_rewrite else 1, green, name)

    return sorted(names, key=key)


def _ordered() -> list[str]:
    return _rotation_order(REGISTRY, _latest_green(), _effective_rewritten())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator (SURVEY.md §2.12)."""
    return {name: REGISTRY[name].build for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query in ``queries()``."""
    return {
        name: REGISTRY[name].oracle for name in _ordered()
        if REGISTRY[name].oracle is not None
    }
