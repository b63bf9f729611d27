"""Session-scoped memoization of persisted derived DataFrames.

Several operator families derive the same expensive working set from
the same input plan — the MinHash family (x02/x03/x25/x36/x46/x59/x60/
x63/x65) all start from ``shingle(docs)`` → ``minhash_signatures``,
and the cluster-then-score family (x66/x67) both start from
``ivf_assign``. Within one driver/correctness session those queries
run back-to-back over identical inputs, so rebuilding (and separately
persisting) the identical working set per query is pure waste — the
round-4 verdict flagged both the duplicated shingle pass (x59 pays the
interpreter-bound HOF build twice) and the doubled IVF persist.

``plan_memo`` keys a persisted derived frame on the *input plan's*
fingerprint plus a tag, so textually-identical rebuilds of the same
source (each registry query constructs ``read_table(...)`` fresh) hit
the same entry. The fingerprint is ``semanticHash()`` (a 32-bit
digest) PLUS a SHA-256 of the canonicalized analyzed-plan string — a
32-bit hash alone leaves a ~1-in-4-billion-per-pair collision window
in which a colliding source plan with the same tag would silently
serve the wrong persisted table (round-5 advice); the plan-string
digest closes it. Entries are bounded and unpersisted on eviction,
and all map access is under a lock so concurrent callers (foreachBatch
worker threads share the session) can't race the dict or eviction.

CORRECTNESS CONTRACT — immutable sources per session: a memo hit
returns the frame persisted at first build, so if the underlying
parquet files are REGENERATED mid-session under the same path, hits
serve the stale working set until ``spark.catalog.clearCache()`` (or a
new session) — the same staleness window Spark's own block-manager
cache has. The bench/driver protocol (see repo bench notes) already
regenerates test data only between sessions; any long-lived service
embedding these operators must clear the cache when its inputs churn.

Scale note: this is driver-side plan bookkeeping only — nothing here
collects data. At 100 TB the persisted working sets themselves are the
usual candidates for explicit parquet staging instead of block-manager
caching; the memo's contract (build once, feed every consumer) is the
same either way.
"""

from __future__ import annotations

import hashlib
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: key -> (frame, safe_to_unpersist_on_evict, materialized).
#: Checkpoint-backed frames (corpus_components) set the unpersist flag
#: False: unpersisting a truncated-lineage frame a caller still holds
#: kills it unrecoverably, so eviction only drops the reference and
#: lets the driver GC reclaim the blocks when the last holder releases
#: it. ``materialized`` records whether the frame was fully built
#: (``_materialize``) — an ``eager=True`` request that HITS a lazily
#: persisted entry must materialize it then, or the stampede fix
#: silently depends on which query populated the slot first (r13
#: advice).
_MEMO: dict[tuple, tuple[DataFrame, bool, bool]] = {}
_LOCK = threading.Lock()
#: entries are few and small (signature/assignment tables), but bound
#: the memo anyway so a long exploratory session can't accumulate
#: unbounded pinned lineages
_MEMO_MAX = 6


def _plan_key(source: DataFrame, tag: tuple) -> tuple | None:
    """(session, semanticHash, sha256(analyzed plan), *tag) — or None
    when the developer APIs are unavailable (degrade to no memo)."""
    try:
        canon = hashlib.sha256(
            source._jdf.queryExecution().analyzed().canonicalized()
            .toString().encode()
        ).hexdigest()
        return (source.sparkSession, source.semanticHash(), canon, *tag)
    except Exception:
        return None


def _repin(hit: DataFrame) -> DataFrame | None:
    """Validate and re-pin a memo hit, or return None if the frame is
    DEAD and must be rebuilt.

    Two external-eviction cases (bench.py isolates queries with
    ``clearCache()`` + a blocking unpersist of every RDD):
    - plain persisted lineage: blocks gone but replayable — re-persist
      and return it (degrades to the old per-query persist behavior);
    - ``localCheckpoint``-backed lineage (connected_components, the
      signature tables): the checkpoint TRUNCATED the lineage, so freed
      blocks are unrecoverable — any job on the hit throws
      checkpointRDDBlockIdNotFound (r6 bench: x25/x36/x89 all -1.0).
      The one-row probe below detects that case cheaply (one partition
      of a persisted-or-replayable frame, a no-op job when healthy) and
      the caller rebuilds instead of serving a dead frame.

    Probe depth, derived from the master: a take(1) touches one
    partition, so a PARTIALLY evicted checkpoint-backed frame (some
    blocks lost, partition 0's survivor intact — possible on
    multi-executor deployments under executor loss) passes and dies
    later in the consumer's full scan. In local mode (``local[...]``)
    every eviction path (clearCache, the bench hygiene unpersist) drops
    all blocks atomically, so the single-partition probe is exact and
    cheap. Any other master validates EVERY partition with a count()
    instead — one cheap job over cached blocks when healthy, and the
    only probe that is exact under partial eviction.
    """
    lvl = hit.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        hit.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if hit.sparkSession.sparkContext.master.startswith("local"):
            hit.take(1)
        else:
            hit.count()
    except Exception:
        try:
            hit.unpersist()
        except Exception:
            pass
        return None
    return hit


def _materialize(df: DataFrame) -> None:
    """Populate EVERY partition of a freshly persisted frame with one
    count() before any consumer sees it.

    A bare ``persist()`` caches lazily: blocks appear as consumers
    compute them. Under AQE the consumers of a shared working set run
    CONCURRENTLY (every broadcast subtree and every shuffle-map query
    stage is its own job, submitted in parallel within one action), and
    Spark's block-manager cache has no per-partition build lock — each
    concurrent job that reaches an unmaterialized partition recomputes
    its full lineage and the first finisher wins the block. Profiled on
    x59 at sf0.1: the persisted-but-lazy shingle/signature tables were
    rebuilt by up to EIGHT concurrent broadcast jobs (eight 32-task
    scan→tokenize→shingle stage executions for one logical build —
    guide §2 "don't compute things you throw away"). One eager count()
    at build time costs a single pass of work that the first consumer
    would have paid anyway, and every consumer then reads cached
    blocks. At 100 TB the same stampede would re-run the dominant
    working-set build once per concurrent consumer, so this is a
    scale fix, not a local-bench tweak."""
    try:
        df.count()
    except Exception:  # noqa: BLE001 — the consumer will surface it
        pass


def eager_persist(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + full materialization (see
    ``_materialize``) — for per-query working sets that fan out into
    concurrent AQE jobs but don't warrant a cross-query memo slot."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _materialize(out)
    return out


def peek_memo(source: DataFrame, tag: tuple) -> DataFrame | None:
    """Return the memoized frame for (source, tag) if one exists,
    WITHOUT building or persisting anything on a miss — for consumers
    that can use a shared working set when present but shouldn't pay
    its materialization when they are the only consumer (a single
    groupBy over the shingle table doesn't warrant pinning it)."""
    key = _plan_key(source, tag)
    if key is None:
        return None
    with _LOCK:
        entry = _MEMO.get(key)
    if entry is None:
        return None
    hit = entry[0]
    alive = _repin(hit)
    if alive is None:
        with _LOCK:
            if _MEMO.get(key) is entry:
                del _MEMO[key]
    return alive


def plan_memo(
    source: DataFrame,
    tag: tuple,
    build: Callable[[], DataFrame],
    unpersist_on_evict: bool = True,
    eager: bool = False,
) -> DataFrame:
    """Return a persisted ``build()`` result memoized on
    ``(session, plan fingerprint, *tag)``.

    ``build`` must derive its result from ``source`` alone (plus the
    parameters captured in ``tag``) — the tag is the cache-correctness
    contract, exactly like a cache key's closure. On a concurrent
    first-build race both threads build; one result wins the slot and
    the loser's frame is released (its caller gets the winner).

    ``unpersist_on_evict=False``: for builds whose result is
    localCheckpoint-backed (``corpus_components``) — eviction must NOT
    unpersist them, because a truncated-lineage frame an earlier caller
    still holds cannot be recomputed; the reference is simply dropped
    and the blocks live until the driver GCs the last holder's handle.
    """
    key = _plan_key(source, tag)
    if key is not None:
        with _LOCK:
            entry = _MEMO.get(key)
        if entry is not None:
            # captured BEFORE _repin: a frame whose blocks were
            # externally evicted (storage level dropped) is re-pinned
            # lazily by _repin, so the stored materialized flag no
            # longer vouches for its blocks
            lvl = entry[0].storageLevel
            was_pinned = lvl.useMemory or lvl.useDisk
            alive = _repin(entry[0])
            if alive is not None:
                materialized = entry[2] and was_pinned
                # an eager request must not inherit a lazy entry's
                # stampede window: materialize the hit NOW and record
                # it, so the fix applies regardless of which consumer
                # populated the slot first (r13 advice). A lazy hit on
                # an evicted entry records that it was re-pinned lazily.
                if eager and not materialized:
                    _materialize(alive)
                    materialized = True
                if materialized != entry[2]:
                    with _LOCK:
                        if _MEMO.get(key) is entry:
                            _MEMO[key] = (entry[0], entry[1], materialized)
                return alive
            with _LOCK:
                if _MEMO.get(key) is entry:
                    del _MEMO[key]
    out = build().persist(StorageLevel.MEMORY_AND_DISK)
    # ``eager``: fully materialize at build. Right for working sets
    # whose consumers are CONCURRENT AQE jobs (multi-arm queries — the
    # cache-stampede case _materialize documents). Wrong as a default:
    # when the first consumer is a broadcast-side query stage the build
    # already materializes sequentially inside it at zero extra cost,
    # and an unconditional build-time pass measurably taxed every
    # single-action consumer (x46/x60/x66/x67 +0.4-0.7 s at sf0.1).
    if eager:
        _materialize(out)
    if key is None:
        return out
    # lost-race check OUTSIDE the lock: _repin runs a Spark job, and
    # holding the lock across it would serialize every other thread's
    # memo access behind it
    with _LOCK:
        racer = _MEMO.get(key)
    if racer is not None and racer[0] is not out:
        alive = _repin(racer[0])
        if alive is not None:
            # keep the winner canonical; release the loser's duplicate
            try:
                out.unpersist()
            except Exception:
                pass
            # a lost race must still honor THIS caller's eagerness:
            # the winner may have persisted lazily (r13 advice)
            if eager and not racer[2]:
                _materialize(alive)
                with _LOCK:
                    if _MEMO.get(key) is racer:
                        _MEMO[key] = (racer[0], racer[1], True)
            return alive
        with _LOCK:
            if _MEMO.get(key) is racer:
                del _MEMO[key]
    evicted: list[tuple[DataFrame, bool, bool]] = []
    with _LOCK:
        racer = _MEMO.get(key)
        if racer is not None and racer[0] is not out:
            # a THIRD racer slipped in while we probed: let it keep the
            # slot; this thread's frame stays a plain persisted frame
            # for its own caller
            return out
        while len(_MEMO) >= _MEMO_MAX:
            evicted.append(_MEMO.pop(next(iter(_MEMO))))
        _MEMO[key] = (out, unpersist_on_evict, eager)
    for old, safe, _mat in evicted:
        if not safe:
            continue
        try:
            old.unpersist()
        except Exception:
            pass
    return out
