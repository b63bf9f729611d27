"""Side-state compaction invariants (streaming/side_state.py): content
preservation, tiered write-amplification bounds, replay safety and the
checksum gate — plus the qs12/qs17 end-to-end equivalence with
compaction forced live mid-stream. Each test drives the tables the way
the ingest folds do: write the batch's own partition, then
``register_batch`` it."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from twitter_kafka_etl_spark.streaming import side_state as S


def _write_delta(spark, path: str, b: int, lo: int, n: int) -> None:
    spark.range(lo, lo + n).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    ).write.mode("overwrite").parquet(os.path.join(path, f"__b={b}"))


def _content(spark, path: str) -> list[tuple]:
    return sorted(
        (r.k, r.v)
        for r in S.read_side(spark, path).select("k", "v").collect()
    )


def test_compaction_preserves_content_and_bounds_dirs(spark, tmp_path):
    """Drive 40 batches with every=8: every row written once stays
    visible exactly once across all folds, the live dir count stays
    <= every + snapshots, on-disk garbage does not accumulate (GC keeps
    the root close to the live set), and snapshot generations are
    negative so the folds' own-batch ``__b != batch_id`` exclusion can
    never hit one."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    folds = 0
    for b in range(40):
        # compaction first, then the batch's own write and publish —
        # the call order the ingest callbacks use
        folds += S.maybe_compact(spark, path, b, every=8)
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    assert folds >= 3
    assert _content(spark, path) == sorted(
        (i, hashlib.md5(str(i).encode()).hexdigest()) for i in range(400)
    )
    live = S.live_partitions(path)
    assert live is not None
    snaps = [b for b in live if b < 0]
    deltas = [b for b in live if b >= 0]
    assert snaps and len(deltas) < 8 + len(snaps)
    # tiered bound: snapshot count grows logarithmically, not linearly
    assert len(snaps) <= 4
    # the root holds live dirs plus at most the in-flight margin —
    # folded sources are GC'd, not abandoned
    assert len(S._partitions(path)) <= len(live) + 1
    # row accounting covers the live partitions only
    assert S.live_rows(path) == 400


def test_table_without_manifest_waits_for_register_batch(spark, tmp_path):
    """A table that has never been registered holds nothing committed:
    maybe_compact leaves it alone, reads fall back to the listing, and
    the first register_batch bootstraps the manifest from that
    listing."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
    before = _content(spark, path)
    assert S.maybe_compact(spark, path, batch_id=4, every=2) is False
    assert S.live_partitions(path) is None
    assert sorted(S._partitions(path)) == [0, 1, 2, 3]
    S.register_batch(path, 3)
    assert sorted(S.live_partitions(path)) == [0, 1, 2, 3]
    assert S.maybe_compact(spark, path, batch_id=4, every=2)
    assert _content(spark, path) == before


def test_compaction_never_folds_own_or_future_batch(spark, tmp_path):
    """Replay safety: only strictly-earlier (checkpoint-committed)
    batches fold. The replaying batch's own leftover partition and any
    not-yet-committed higher id stay untouched."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(6):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    before = _content(spark, path)
    assert S.maybe_compact(spark, path, batch_id=4, every=2)
    for parts in (S.live_partitions(path), S._partitions(path)):
        assert 4 in parts and 5 in parts  # own + future: intact
        assert [b for b in parts if 0 <= b < 4] == []  # earlier: folded
    assert _content(spark, path) == before


def test_merge_variant_preserves_groupwise_sums(spark, tmp_path):
    """qs15's shape: additive count-min cells fold via a groupBy-sum
    merge, gated by a merge-preserved invariant; the folded table
    serves the same totals as the raw history."""
    path = str(tmp_path / "cells")
    os.makedirs(path)
    for b in range(4):
        spark.createDataFrame(
            [(d, c, 1) for d in range(2) for c in range(8)],
            "depth int, cell int, counts long",
        ).write.mode("overwrite").parquet(os.path.join(path, f"__b={b}"))
        S.register_batch(path, b)
    merge = lambda df: df.groupBy("depth", "cell").agg(  # noqa: E731
        F.sum("counts").alias("counts")
    )
    inv = lambda df: df.agg(  # noqa: E731
        F.sum("counts").cast("bigint").alias("s"),
        F.countDistinct("depth", "cell").alias("d"),
    )
    assert S.maybe_compact(
        spark, path, batch_id=4, every=2, merge=merge, invariant=inv
    )
    got = {
        (r.depth, r.cell): r.counts
        for r in merge(S.read_side(spark, path)).collect()
    }
    assert got == {(d, c): 4 for d in range(2) for c in range(8)}
    # merged snapshot is 16 rows, not 64
    snap = [b for b in S.live_partitions(path) if b < 0]
    assert len(snap) == 1
    assert spark.read.parquet(
        os.path.join(path, f"__b={snap[0]}")
    ).count() == 16


def test_merge_without_invariant_is_refused(spark, tmp_path):
    path = str(tmp_path / "cells")
    os.makedirs(path)
    for b in range(3):
        _write_delta(spark, path, b, lo=0, n=5)
        S.register_batch(path, b)
    with pytest.raises(ValueError, match="invariant"):
        S.maybe_compact(
            spark, path, batch_id=3, every=2, merge=lambda df: df
        )


def test_checksum_gate_aborts_and_leaves_sources(spark, tmp_path):
    """A fold whose merge drops rows goes loudly red BEFORE any source
    dir is touched — x55's compute-from-the-rewritten-files contract.
    Nothing is published and the rejected snapshot is removed."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    before = _content(spark, path)
    gen, _ = S._latest_manifest(path)
    bad_merge = lambda df: df.filter(F.col("k") % 2 == 0)  # noqa: E731
    identity_inv = S._default_invariant  # NOT preserved by bad_merge
    with pytest.raises(RuntimeError, match="content.*invariant"):
        S.maybe_compact(
            spark,
            path,
            batch_id=4,
            every=2,
            merge=bad_merge,
            invariant=identity_inv,
        )
    assert _content(spark, path) == before
    assert S._latest_manifest(path)[0] == gen
    assert sorted(S.live_partitions(path)) == [0, 1, 2, 3]
    assert sorted(S._partitions(path)) == [0, 1, 2, 3]


def test_qs12_with_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """End-to-end: qs12 with compaction forced live mid-stream
    (every=2 over the 4-batch oracle schedule) produces the exact
    oracle result — the fold is invisible to query semantics."""
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare

    monkeypatch.setattr(S, "DEFAULT_EVERY", 2)
    out = REGISTRY["qs12_stream_incremental_dedup"].build(spark, sf_dir)
    ok, msg = compare(
        out, oracle_con, REGISTRY["qs12_stream_incremental_dedup"].oracle
    )
    assert ok, msg


def test_qs17_with_live_compaction_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """Same end-to-end gate for the near-dup ingest: both its side
    tables (kept corpus + band index) compact mid-stream and the
    4-level recursion oracle still matches exactly."""
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare

    monkeypatch.setattr(S, "DEFAULT_EVERY", 2)
    out = REGISTRY["qs17_stream_neardup_ingest"].build(spark, sf_dir)
    ok, msg = compare(
        out, oracle_con, REGISTRY["qs17_stream_neardup_ingest"].oracle
    )
    assert ok, msg
