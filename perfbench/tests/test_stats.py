"""Pure-logic tests of the benchmark: tail-percentile selection, the
interval union behind the driver gap, trigger parsing from a checkpoint,
Spark SQL metric parsing, and the generated inputs and orders.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine

import datagen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# -- tail percentile ---------------------------------------------------------
def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(30, 0, -1)]  # 30 samples, unsorted
    value, pct, n = stats.tail(values)
    assert n == 30
    assert value == 20.0
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_of_twenty_samples_is_the_median():
    values = [float(v) for v in range(1, 21)]
    assert stats.tail(values) == (10.0, 50.0, 20)


def test_tail_needs_twenty_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


# -- interval union, driver gap, self time -----------------------------------
@pytest.mark.parametrize("intervals,expected", [
    ([], 0.0),
    ([(0.0, 1.0)], 1.0),
    ([(0.0, 1.0), (2.0, 3.0)], 2.0),            # disjoint
    ([(0.0, 2.0), (1.0, 3.0)], 3.0),            # overlapping
    ([(0.0, 4.0), (1.0, 2.0)], 4.0),            # nested
    ([(0.0, 1.0), (1.0, 2.0)], 2.0),            # touching
    ([(2.0, 3.0), (0.0, 1.0), (0.5, 2.5)], 3.0),  # unsorted chain
    ([(1.0, 1.0), (3.0, 2.0)], 0.0),            # empty and reversed
])
def test_union_length(intervals, expected):
    assert stats.union_length(intervals) == pytest.approx(expected)


def test_driver_gap_clips_jobs_to_the_query_wall():
    wall = (10.0, 20.0)
    # one job starts before the query, one runs past its end, two overlap
    jobs = [(9.0, 11.0), (12.0, 14.0), (13.0, 15.0), (19.0, 25.0)]
    gap, covered = stats.driver_gap(wall, jobs)
    assert covered == pytest.approx(1.0 + 3.0 + 1.0)
    assert gap == pytest.approx(5.0)
    assert gap + covered == pytest.approx(wall[1] - wall[0])


def test_driver_gap_without_jobs_is_the_whole_wall():
    assert stats.driver_gap((0.0, 2.5), []) == (2.5, 0.0)


def test_self_time_subtracts_covered_children_once():
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 5.0), (9.0, 12.0)]
                           ) == pytest.approx(10.0 - 4.0 - 1.0)


# -- checkpoint triggers ------------------------------------------------------
@pytest.fixture
def checkpoint(tmp_path):
    """The fixture checkpoint with commit mtimes set: batch 0 commits
    1.25 s after its trigger, batch 1 after 0.5 s, batch 2 never."""
    ckpt = tmp_path / "run_1" / "ckpt"
    shutil.copytree(os.path.join(HERE, "fixtures", "checkpoint"), ckpt)
    for batch, commit_ns in (("0", 1_700_000_001_250_000_000),
                             ("1", 1_700_000_002_000_000_000)):
        os.utime(ckpt / "commits" / batch, ns=(commit_ns, commit_ns))
    return ckpt


def test_checkpoint_triggers_pairs_offsets_with_commit_mtimes(checkpoint):
    triggers = stats.checkpoint_triggers(str(checkpoint))
    assert [t["batch"] for t in triggers] == [0, 1]  # batch 2 uncommitted
    assert triggers[0]["start_ms"] == 1_700_000_000_000
    assert triggers[0]["latency_ms"] == pytest.approx(1250.0)
    assert triggers[1]["latency_ms"] == pytest.approx(500.0)


def test_find_checkpoints_locates_nested_checkpoint(checkpoint, tmp_path):
    (tmp_path / "run_1" / "out" / "_spark_metadata").mkdir(parents=True)
    assert stats.find_checkpoints(str(tmp_path)) == [str(checkpoint)]


def test_checkpoint_without_offsets_has_no_triggers(tmp_path):
    assert stats.checkpoint_triggers(str(tmp_path)) == []


# -- Spark SQL metric strings ------------------------------------------------
@pytest.mark.parametrize("text,expected", [
    ("306 ms", 0.306),
    ("1.7 s", 1.7),
    ("1,040.0 B", 1040.0),
    ("8.7 KiB", 8.7 * 1024),
    ("100,000", 100000.0),
    ("total (min, med, max (stageId: taskId))\n8.3 s (2.0 s, 2.0 s, 2.2 s "
     "(stage 0.0: task 3))", 8.3),
])
def test_sql_metric_value(text, expected):
    assert stats.sql_metric_value(text) == pytest.approx(expected)


def test_rest_time_reads_spark_ui_timestamps():
    assert spans.rest_time("2024-01-01T00:00:01.250GMT") == pytest.approx(
        1_704_067_201.25)
    assert spans.rest_time(None) is None


def test_tracer_wraps_each_binding_and_restores_it():
    """``read_table`` is bound at import by several modules; every binding
    is wrapped while tracing and the original comes back afterwards."""
    from twitter_kafka_etl_spark import io
    from twitter_kafka_etl_spark.plans import catalog, extensions
    from twitter_kafka_etl_spark.streaming import queries

    orig, fsync = io.read_table, os.fsync
    tracer = spans.Tracer()
    tracer.install()
    try:
        for mod in (io, catalog, extensions, queries):
            assert mod.read_table is not orig
            assert mod.read_table.__wrapped__ is orig
        assert os.fsync is not fsync
    finally:
        tracer.uninstall()
    assert all(mod.read_table is orig
               for mod in (io, catalog, extensions, queries))
    assert os.fsync is fsync


# -- generated inputs and orders ---------------------------------------------
def test_tables_are_the_same_on_every_call():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)


def test_documents_have_the_reference_corpus_shape():
    docs = datagen.tables(0.1)["documents"].to_pydict()
    texts = docs["text"]
    assert len(texts) == 5000
    lengths = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(lengths) == 10 and max(lengths) == 100
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == 250
    assert all(t[:-4] in set(texts) for t in near)
    assert len(texts) - len(set(texts)) >= 8
    assert docs["n_chars"] == [len(t) for t in texts]
    assert datagen.tables(0.01)["documents"].num_rows == 500


def test_seed_fixes_order_except_for_fixed_order_workloads():
    for wl in WORKLOADS.values():
        assert wl.order(7) == wl.order(7)
        assert sorted(wl.order(7)) == sorted(wl.queries)
        if wl.fixed_order:
            assert wl.order(7) == list(wl.queries)
