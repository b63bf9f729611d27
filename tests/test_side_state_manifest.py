"""The side-state manifest visibility protocol (streaming/side_state.py):
no directory renames, atomic-publish crash semantics at EVERY
filesystem step, torn manifests, torn published snapshots, replay
idempotence, the pure tiered-merge planning bounds (hypothesis, no
Spark), what each publish and fold commits to the manifests, bootstrap
of a table that predates its manifest, and qs12/qs17 oracle equivalence
with a fold trigger of 3. Replay-safety, checksum-gate and every=2
oracle tests of the folds live in test_side_state.py."""

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


def _visible(spark, path: str) -> list[tuple]:
    return sorted(
        (r.k, r.v)
        for r in S.read_side(spark, path).select("k", "v").collect()
    )


def _expected(n_batches: int, per: int = 10) -> list[tuple]:
    return sorted(
        (i, hashlib.md5(str(i).encode()).hexdigest())
        for i in range(n_batches * per)
    )


def test_manifest_protocol_is_rename_free(spark, tmp_path, monkeypatch):
    """The visibility protocol performs no os.rename: drive a full
    fold with rename booby-trapped. (Scope per the module docs: this
    is about the publish/GC protocol — Spark's own parquet committer
    renames inside a partition write, which is the platform
    committer's job on a real object store — so the trap arms only
    around the side_state calls, not the data writes.)"""

    def bomb(*a, **k):
        raise AssertionError("os.rename in manifest visibility protocol")

    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        monkeypatch.setattr(S.os, "rename", bomb)
        S.register_batch(path, b)
        monkeypatch.setattr(S.os, "rename", os.rename)
    monkeypatch.setattr(S.os, "rename", bomb)
    assert S.maybe_compact(spark, path, batch_id=4, every=2)
    monkeypatch.setattr(S.os, "rename", os.rename)
    assert _visible(spark, path) == _expected(4)
    assert [b for b in S.live_partitions(path) if b < 0]


def test_reader_sees_pre_or_post_fold_at_every_crash_point(
    spark, tmp_path, monkeypatch
):
    """Systematic crash injection over every destructive/commit fs op
    in the fold (manifest publishes via os.replace, GC/sweep via
    shutil.rmtree, retention pruning via os.remove). After EVERY crash
    point, WITHOUT recovery, a reader must see exactly the pre-fold or
    the post-fold row set — the protocol's any-instant claim — and
    after the next fold-start call (recovery) the same must hold
    with the garbage swept."""
    import itertools

    real_replace, real_rmtree, real_remove = (
        os.replace,
        S.shutil.rmtree,
        os.remove,
    )
    pre, post = _expected(4), _expected(4)
    for crash_at in itertools.count(1):
        path = str(tmp_path / f"state_{crash_at}")
        os.makedirs(path)
        for b in range(4):
            _write_delta(spark, path, b, lo=b * 10, n=10)
            S.register_batch(path, b)
        calls = {"n": 0}

        def _tick(_c=calls, _ca=crash_at):
            _c["n"] += 1
            if _c["n"] == _ca:
                raise RuntimeError("injected crash")

        def bomb_replace(src, dst, *, _t=_tick):
            _t()
            return real_replace(src, dst)

        def bomb_rmtree(p, *a, _t=_tick, **k):
            _t()
            return real_rmtree(p, *a, **k)

        def bomb_remove(p, *, _t=_tick):
            _t()
            return real_remove(p)

        monkeypatch.setattr(S.os, "replace", bomb_replace)
        monkeypatch.setattr(S.shutil, "rmtree", bomb_rmtree)
        monkeypatch.setattr(S.os, "remove", bomb_remove)
        try:
            S.maybe_compact(spark, path, batch_id=4, every=2)
            crashed = False
        except RuntimeError as e:
            assert "injected crash" in str(e)
            crashed = True
        finally:
            monkeypatch.setattr(S.os, "replace", real_replace)
            monkeypatch.setattr(S.shutil, "rmtree", real_rmtree)
            monkeypatch.setattr(S.os, "remove", real_remove)
        # no recovery yet: the reader's view is already exactly pre or
        # post (the publish is the only visibility transition)
        assert _visible(spark, path) in (pre, post), f"crash {crash_at}"
        # recovery = the next fold-start call
        S.maybe_compact(spark, path, batch_id=4, every=8)
        assert _visible(spark, path) in (pre, post), f"crash {crash_at}"
        live = set((S.live_partitions(path) or {}).values())
        on_disk = set(S._partitions(path).values())
        assert on_disk <= live, f"unswept garbage at crash {crash_at}"
        if not crashed:
            break


def test_torn_manifest_falls_back_to_previous_generation(
    spark, tmp_path
):
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(3):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    before = _visible(spark, path)
    gen, _ = S._latest_manifest(path)
    # a torn local write / truncated PUT: garbage bytes under the next
    # generation's name — readers must skip it (sha mismatch), not
    # error and not see a partial part list
    with open(
        os.path.join(S._mdir(path), f"m-{gen + 1:012d}.json"), "w"
    ) as fh:
        fh.write('{"gen": %d, "parts": ["__b=' % (gen + 1))
    assert _visible(spark, path) == before
    # and the writer path keeps going: the next publish overwrites the
    # torn object deterministically
    _write_delta(spark, path, 3, lo=30, n=10)
    S.register_batch(path, 3)
    assert _visible(spark, path) == _expected(4)


def test_torn_published_snapshot_rolls_back_to_sources(
    spark, tmp_path, monkeypatch
):
    """Power-loss emulation in the publish→GC window: the manifest
    committed (snapshot live, rows recorded) but the snapshot's pages
    are gone. Recovery must publish a rollback manifest naming the
    still-present sources — never serve the truncated snapshot."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
    before = _visible(spark, path)
    # crash on the FIRST destructive op after the publish: the fold is
    # committed, GC never starts, sources intact
    real_rmtree = S.shutil.rmtree
    real_publish = S._publish_manifest
    state = {"published": False}

    def tracking_publish(*a, **k):
        out = real_publish(*a, **k)
        state["published"] = True
        return out

    def bomb_rmtree(p, *a, **k):
        if state["published"]:
            raise RuntimeError("injected crash")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(S, "_publish_manifest", tracking_publish)
    monkeypatch.setattr(S.shutil, "rmtree", bomb_rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.maybe_compact(spark, path, batch_id=4, every=2)
    monkeypatch.setattr(S.shutil, "rmtree", real_rmtree)
    monkeypatch.setattr(S, "_publish_manifest", real_publish)
    # the fold committed; now tear the published snapshot's data
    live = S.live_partitions(path)
    snap = next(d for b, d in live.items() if b < 0)
    for root_, _dirs, files in os.walk(os.path.join(path, snap)):
        for f in files:
            if f.endswith(".parquet"):
                os.remove(os.path.join(root_, f))
    # recovery at the next fold-start call
    assert S.maybe_compact(spark, path, batch_id=4, every=8) is False
    assert _visible(spark, path) == before
    live = S.live_partitions(path)
    assert sorted(b for b in live) == [0, 1, 2, 3]
    assert not os.path.exists(os.path.join(path, snap))


def test_register_batch_is_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "state")
    os.makedirs(path)
    _write_delta(spark, path, 0, lo=0, n=5)
    S.register_batch(path, 0)
    gen1, _ = S._latest_manifest(path)
    # replay: overwrite + re-register publishes nothing new
    _write_delta(spark, path, 0, lo=0, n=5)
    S.register_batch(path, 0)
    gen2, _ = S._latest_manifest(path)
    assert gen1 == gen2
    assert _visible(spark, path) == _expected(1, per=5)


def test_unpublished_partition_is_invisible_until_replay_publishes(
    spark, tmp_path
):
    """Crash between the data write and the publish: the dir exists
    but readers don't see it; a replayed batch overwrites and
    publishes it — exactly-once visible contents."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    _write_delta(spark, path, 0, lo=0, n=10)
    S.register_batch(path, 0)
    _write_delta(spark, path, 1, lo=10, n=10)  # crash before publish
    assert _visible(spark, path) == _expected(1)
    _write_delta(spark, path, 1, lo=10, n=10)  # replay
    S.register_batch(path, 1)
    assert _visible(spark, path) == _expected(2)


def test_manifest_drive_preserves_content_and_bounds_dirs(spark, tmp_path):
    """40 batches, every=8, seen through the manifests: every publish
    (register or fold) commits exactly the next generation, the
    retained manifest history stays ``_MANIFEST_KEEP`` deep, the newest
    manifest names only dirs that exist, each fold's manifest records
    its snapshot's true row count, and the sources it folded are GC'd."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    folds = 0
    last_gen = 0
    for b in range(40):
        folded = S.maybe_compact(spark, path, b, every=8)
        gen, m = S._latest_manifest(path)
        assert gen == last_gen + int(folded)
        if folded:
            folds += 1
            assert m["snapshot"] in m["parts"]
            assert m["rows"] == S._dir_stats(
                os.path.join(path, m["snapshot"])
            )[0]
            assert not set(m["folded"]) & set(m["parts"])
            for d in m["folded"]:
                assert not os.path.exists(os.path.join(path, d))
        _write_delta(spark, path, b, lo=b * 10, n=10)
        S.register_batch(path, b)
        last_gen, m = S._latest_manifest(path)
        assert last_gen == gen + 1 and f"__b={b}" in m["parts"]
    assert folds >= 3
    assert _visible(spark, path) == _expected(40)
    _, m = S._latest_manifest(path)
    assert all(os.path.isdir(os.path.join(path, d)) for d in m["parts"])
    kept = [
        n
        for n in os.listdir(S._mdir(path))
        if n.startswith("m-") and n.endswith(".json")
    ]
    assert len(kept) == S._MANIFEST_KEEP
    assert not [n for n in os.listdir(S._mdir(path)) if n.endswith(".tmp")]
    assert S.live_rows(path) == 400


def test_merge_variant_preserves_groupwise_sums_manifest(spark, tmp_path):
    """qs15's additive count-min shape, checked at the manifest: the
    fold's commit records the merged snapshot's row count (16 cells,
    not the 64 input rows) and the four folded sources, which are gone
    from disk; live row accounting follows the merged snapshot."""
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
    _, m = S._latest_manifest(path)
    assert m["parts"] == [m["snapshot"]]
    assert m["rows"] == 16
    assert m["folded"] == [f"__b={b}" for b in range(4)]
    assert sorted(S._partitions(path).values()) == [m["snapshot"]]
    assert S.live_rows(path) == 16
    got = {
        (r.depth, r.cell): r.counts
        for r in merge(S.read_side(spark, path)).collect()
    }
    assert got == {(d, c): 4 for d in range(2) for c in range(8)}


def test_legacy_table_bootstraps_into_manifest_mode(spark, tmp_path):
    """A listing-visible table that accumulated deltas before it had
    any manifest: reads serve the listing, the next NEW batch's
    register_batch publishes gen 1 naming the whole listing plus
    itself, and folds proceed from there with reads correct
    throughout."""
    path = str(tmp_path / "state")
    os.makedirs(path)
    for b in range(4):
        _write_delta(spark, path, b, lo=b * 10, n=10)
    assert S.live_partitions(path) is None
    assert _visible(spark, path) == _expected(4)
    _write_delta(spark, path, 4, lo=40, n=10)
    S.register_batch(path, 4)
    gen, m = S._latest_manifest(path)
    assert gen == 1
    assert m["parts"] == sorted(f"__b={b}" for b in range(5))
    assert _visible(spark, path) == _expected(5)
    assert S.maybe_compact(spark, path, batch_id=5, every=2)
    live = S.live_partitions(path)
    assert [b for b in live if b >= 0] == []
    assert [b for b in live if b < 0]
    assert _visible(spark, path) == _expected(5)


def test_plan_fold_tiered_bounds_property():
    """The pure planning function upholds the module's two asserted
    bounds over random (batch count, every, ratio) — simulated without
    Spark, so hypothesis can actually explore: live snapshot count
    stays O(log_ratio B) and no row is rewritten more than
    O(log_ratio B) times across a whole run."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        batches=st.integers(min_value=8, max_value=400),
        every=st.integers(min_value=2, max_value=16),
        ratio=st.floats(min_value=1.2, max_value=4.0),
        per=st.integers(min_value=1, max_value=50),
    )
    def run(batches, every, ratio, per):
        parts: dict[int, str] = {}
        rows: dict[str, int] = {}
        rewrites: dict[str, int] = {}  # dir -> max rewrite depth inside
        next_written = 0
        for b in range(batches):
            planned = S._plan_fold(parts, rows, b, every, ratio=ratio)
            if planned is not None:
                fold, dest = planned
                rows[dest] = sum(rows[d] for d in fold)
                rewrites[dest] = 1 + max(rewrites.get(d, 0) for d in fold)
                for d in fold:
                    del rows[d]
                    rewrites.pop(d, None)
                parts = {
                    k: v for k, v in parts.items() if v not in fold
                }
                parts[-int(dest.split("-")[1])] = dest
            parts[b] = f"__b={b}"
            rows[f"__b={b}"] = per
            rewrites[f"__b={b}"] = 0
        n_rows = batches * per
        # a snapshot of size s absorbs a fold of t rows only when
        # s <= ratio*t, so every rewrite multiplies the containing
        # snapshot's size by >= (1 + 1/ratio) — the growth base the
        # logarithmic bounds actually follow
        base = 1.0 + 1.0 / ratio
        bound = 2 + math.log(max(n_rows / max(per * every, 1), 1), base)
        snaps = [b for b in parts if b < 0]
        assert len(snaps) <= bound + 1, (
            f"{len(snaps)} snapshots vs bound {bound}"
        )
        # every row's rewrite count is logarithmic, not linear
        assert all(v <= bound + 1 for v in rewrites.values()), (
            f"max rewrite depth {max(rewrites.values())} vs {bound}"
        )
        # live dir count: deltas cap at `every` + snapshots
        n_deltas = len([b for b in parts if b >= 0])
        assert n_deltas <= every + 1

    run()


def _count_folds(monkeypatch) -> list[bool]:
    """Record every maybe_compact result the ingest callbacks see (they
    import it from the module at call time)."""
    results: list[bool] = []
    real = S.maybe_compact

    def counting(*a, **k):
        out = real(*a, **k)
        results.append(out)
        return out

    monkeypatch.setattr(S, "maybe_compact", counting)
    return results


def test_qs12_manifest_mode_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """End-to-end: qs12 with the fold trigger at 3, so the index folds
    at a different point of the 4-batch oracle schedule than the
    every=2 gate in test_side_state.py; a fold must actually commit
    mid-stream and the result must still match the oracle exactly."""
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare

    monkeypatch.setattr(S, "DEFAULT_EVERY", 3)
    folds = _count_folds(monkeypatch)
    out = REGISTRY["qs12_stream_incremental_dedup"].build(spark, sf_dir)
    ok, msg = compare(
        out, oracle_con, REGISTRY["qs12_stream_incremental_dedup"].oracle
    )
    assert ok, msg
    assert any(folds), "no fold committed during the stream"


def test_qs17_manifest_mode_matches_oracle(
    spark, sf_dir, oracle_con, monkeypatch
):
    """Same gate for the near-dup ingest at fold trigger 3: both side
    tables (kept corpus + band index) fold mid-stream and the 4-level
    recursion oracle still matches exactly."""
    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import compare

    monkeypatch.setattr(S, "DEFAULT_EVERY", 3)
    folds = _count_folds(monkeypatch)
    out = REGISTRY["qs17_stream_neardup_ingest"].build(spark, sf_dir)
    ok, msg = compare(
        out, oracle_con, REGISTRY["qs17_stream_neardup_ingest"].oracle
    )
    assert ok, msg
    assert sum(folds) >= 2, f"only {sum(folds)} fold(s) committed"
