#!/usr/bin/env python3
"""Engine benchmark: run one named workload of registry queries on
synthetic tables, check every output against the DuckDB oracle,
and print the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``).

    python3 perfbench/run.py --workload dedup_session_sf001 --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the engine, on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use),
in one process. Everything it writes — generated tables, Spark scratch
space, stream staging and checkpoints, trace files — stays under
``.perfbench/`` in the checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
from spans import SparkRest, Tracer, rest_time, stream_progress  # noqa: E402
from workloads import WORKLOADS, resolve  # noqa: E402

#: environment variables that change which plan a registry query runs;
#: a figure taken with one of them set measures a different program
PLAN_KNOBS = (
    "SPARK_GRAFT_STREAM_BATCHES",
    "SPARK_GRAFT_QS12_BLOOM_CROSSOVER",
    "SPARK_GRAFT_QS14_BLOOM_CROSSOVER",
    "SPARK_GRAFT_SIDE_MANIFEST",
    "SPARK_GRAFT_SIDE_COMPACT_EVERY",
    "SPARK_GRAFT_SPLIT_BYTES",
    "SPARK_GRAFT_PLAN_TAP",
    "SPARK_GRAFT_DRIVER_MEM",
)
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_s_p50": "s",
}


class Failure(Exception):
    """The benchmark cannot produce a result."""


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def preflight() -> None:
    if not os.path.isfile(os.path.join(ROOT, "twitter_kafka_etl_spark",
                                       "plans", "__init__.py")):
        raise Failure(f"no engine package under {ROOT}: run from the root "
                      "of a checkout")
    if not os.path.isfile(os.path.join(ROOT, "bench.py")):
        raise Failure(f"no bench.py under {ROOT}")
    knobs = [k for k in PLAN_KNOBS if k in os.environ]
    if knobs:
        raise Failure("plan-changing variables are set, refusing to run: "
                      + ", ".join(knobs))


def prepare_environment() -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``.perfbench/`` and start from an empty one."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------
def stream_roots() -> list[str]:
    tmp = os.environ["TMPDIR"]
    return [os.path.join(tmp, d) for d in sorted(os.listdir(tmp))
            if d.startswith("tkes_stream_")]


def remove_run_dirs() -> None:
    """Delete the sink and checkpoint directories this process's folds
    left under the stream staging roots."""
    own = f"run_{os.getpid()}"
    for root in stream_roots():
        shutil.rmtree(os.path.join(root, own), ignore_errors=True)


def set_up(spark_conf: dict, registry, names, sf_dir: str,
           datagen_s: float):
    """The cold set-up: from process start until the session is up and
    the warmup is done, less the benchmark's own table generation. The
    warmup is one untimed pass of the workload: it compiles the
    workload's own plans, warms the JIT and the Python workers, and
    stages the folds' stream inputs, which ``queries._staged_input``
    then reuses for the timed passes."""
    from twitter_kafka_etl_spark.session import get_spark

    t_session = time.time()
    spark = get_spark("perfbench", extra_conf=spark_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_warm = time.time()
    warm = run_pass(spark, registry, names, sf_dir)
    t_end = time.time()
    return spark, warm, {
        "setup_s": t_end - PROCESS_START - datagen_s,
        "imports_s": t_session - PROCESS_START - datagen_s,
        "get_spark_s": t_warm - t_session,
        "warmup_s": t_end - t_warm,
    }


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------
def reset(spark) -> None:
    """Cold ``plan_memo`` and an empty block manager before each pass."""
    import bench
    from twitter_kafka_etl_spark.operators import _cache

    with _cache._LOCK:
        held = list(_cache._MEMO.values())
        _cache._MEMO.clear()
    for entry in held:
        try:
            entry[0].unpersist()
        except Exception:  # noqa: BLE001 — a dead frame has nothing to free
            pass
    bench._evict(spark)


class Collected:
    """A query's rows, fetched inside the timed region, with the
    DataFrame surface ``oracle.compare`` reads."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows


def run_pass(spark, registry, names, sf_dir, tracer=None) -> dict:
    """One ordered execution of ``names``: per-query build and execute
    times, results and errors. Each fold's checkpoint is read, and its
    run directories removed, right after the fold. With a tracer, each
    query and its phases become spans."""
    from contextlib import nullcontext

    def span(name, kind):
        return tracer.span(name, kind) if tracer else nullcontext({})

    reset(spark)
    queries = []
    t_pass = time.time()
    for name in names:
        q = {"name": name, "start": time.time()}
        with span(name, "query") as qspan:
            if tracer:
                tracer.anchor = qspan["id"]
            try:
                with span("build", "phase"):
                    df = registry[name].build(spark, sf_dir)
                q["built"] = time.time()
                with span("execute", "phase"):
                    q["result"] = Collected(df)
            except Exception as e:  # noqa: BLE001 — counted as failed
                q["error"] = f"{type(e).__name__}: {e}"[:500]
                q.setdefault("built", time.time())
        q["end"] = time.time()
        if tracer:
            tracer.anchor = None
        read_fold_outcome(q, side_state=tracer is not None)
        queries.append(q)
    return {"start": t_pass, "end": time.time(), "queries": queries}


def read_fold_outcome(q: dict, side_state: bool) -> None:
    """Record a fold's committed triggers and staged input rows (and,
    when tracing, its side tables' size), then delete its run
    directories."""
    from twitter_kafka_etl_spark import io

    footer_rows = getattr(io.parquet_footer_rows, "__wrapped__",
                          io.parquet_footer_rows)
    own = f"run_{os.getpid()}"
    used = [r for r in stream_roots() if os.path.isdir(os.path.join(r, own))]
    triggers = []
    for root in used:
        for ckpt in stats.find_checkpoints(os.path.join(root, own)):
            triggers.extend(stats.checkpoint_triggers(ckpt))
    if triggers:
        q["triggers"] = triggers
        q["input_rows"] = sum(footer_rows(os.path.join(r, "input")) or 0
                              for r in used)
    if side_state and used:
        q["side_state_bytes"] = _side_state_bytes()
    remove_run_dirs()


def _side_state_bytes() -> int:
    """Bytes on disk of the folds' side tables: everything in this
    process's run directories except the checkpoint (``ckpt``) and the
    sink (``out``)."""
    total = 0
    own = f"run_{os.getpid()}"
    for root in stream_roots():
        run = os.path.join(root, own)
        if not os.path.isdir(run):
            continue
        for entry in os.scandir(run):
            if not entry.is_dir() or entry.name in ("ckpt", "out"):
                continue
            for dirpath, _dirs, files in os.walk(entry.path):
                total += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in files)
    return total


class OracleResults:
    """The DuckDB side of ``oracle.compare``, each twin run once per run:
    the tables do not change between passes, so neither does the
    expected output."""

    def __init__(self, con) -> None:
        self._con = con
        self._done: dict[str, tuple] = {}
        self.description, self._rows = None, []

    def execute(self, sql: str) -> "OracleResults":
        if sql not in self._done:
            rel = self._con.execute(sql)
            self._done[sql] = (rel.description, rel.fetchall())
        self.description, self._rows = self._done[sql]
        return self

    def fetchall(self) -> list:
        return self._rows


def check(pass_result: dict, registry, con) -> None:
    """Hash-compare every query's output with its DuckDB twin (outside
    the timed region); a raise or a mismatch marks the query failed."""
    from twitter_kafka_etl_spark.plans.oracle import compare

    for q in pass_result["queries"]:
        if "error" in q:
            q["ok"] = False
            continue
        ok, msg = compare(q.pop("result"), con, registry[q["name"]].oracle)
        q["ok"] = ok
        if not ok:
            q["error"] = msg[:500]


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def query_walls(passes: list[dict]) -> list[float]:
    return [q["end"] - q["start"] for p in passes for q in p["queries"]]


def trigger_latencies(passes: list[dict]) -> list[float]:
    return [t["latency_ms"] for p in passes for q in p["queries"]
            for t in q.get("triggers", [])]


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between two
    ``cpu_ticks`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(passes: list[dict], setup: dict) -> dict:
    walls = query_walls(passes)
    return {
        "setup_s": setup["setup_s"],
        "wall_s": stats.median([p["end"] - p["start"] for p in passes]),
        "query_s_p50": stats.median(walls),
    }


def ingest_figures(passes: list[dict]) -> dict:
    """Trigger latency and ingest rate of the fold workloads (zero where
    a workload has no streams)."""
    lat = trigger_latencies(passes)
    rows = sum(q.get("input_rows", 0) for p in passes for q in p["queries"])
    fold_s = sum(q["end"] - q["start"] for p in passes for q in p["queries"]
                 if q.get("triggers"))
    out = {"trigger_ms_p50": stats.median(lat) if lat else 0.0,
           "trigger_ms_tail": 0.0, "trigger_tail_pct": 0.0,
           "triggers": len(lat),
           "ingest_rows_per_s": rows / fold_s if fold_s else 0.0}
    if len(lat) >= 2 * stats.TAIL_BEYOND:
        out["trigger_ms_tail"], out["trigger_tail_pct"], _ = stats.tail(lat)
    return out


# ---------------------------------------------------------------------------
# traced pass: Spark's records and the layer spans, per query and per pass
# ---------------------------------------------------------------------------
def spark_records(rest, passes_window: tuple[float, float]) -> dict:
    """Jobs, stage attempts and Python-node SQL metrics recorded while
    the window ran."""
    lo, hi = passes_window
    jobs = []
    for j in rest.settle():
        start = rest_time(j.get("submissionTime"))
        if start is None or not lo <= start <= hi:
            continue
        end = rest_time(j.get("completionTime")) or hi
        jobs.append({"id": j["jobId"], "start": start, "end": end,
                     "status": j["status"], "stage_ids": j["stageIds"]})
    stages = []
    for s in rest.get("/stages"):
        start = rest_time(s.get("submissionTime"))
        if s["status"] not in ("COMPLETE", "FAILED") or start is None:
            continue
        if not lo <= start <= hi:
            continue
        stages.append({
            "id": s["stageId"], "attempt": s["attemptId"], "start": start,
            "end": rest_time(s.get("completionTime")) or hi,
            "status": s["status"],
            "tasks": s["numCompleteTasks"] + s["numFailedTasks"]
            + s["numKilledTasks"],
            "run_s": s["executorRunTime"] / 1e3,
            "cpu_s": s["executorCpuTime"] / 1e9,
            "gc_s": s["jvmGcTime"] / 1e3,
            "shuffle_read_mb": s["shuffleReadBytes"] / 2 ** 20,
            "shuffle_write_mb": s["shuffleWriteBytes"] / 2 ** 20,
            "spill_mb": s["diskBytesSpilled"] / 2 ** 20,
        })
    python = []
    for e in rest.get("/sql?details=true&planDescription=false"
                      "&offset=0&length=1000000"):
        start = rest_time(e.get("submissionTime"))
        if start is None or not lo <= start <= hi:
            continue
        for node in e.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "time to run Python workers" not in metrics:
                continue
            python.append({
                "start": start, "node": node["nodeName"],
                "eval_s": stats.sql_metric_value(
                    metrics["time to run Python workers"]),
                "mb_to_worker": stats.sql_metric_value(
                    metrics.get("data sent to Python workers", "0")) / 2 ** 20,
            })
    return {"jobs": jobs, "stages": stages, "python": python}


def stage_skew(rest, stage: dict) -> float:
    """Max over median task run time of one stage attempt."""
    summary = rest.get(f"/stages/{stage['id']}/{stage['attempt']}/"
                       "taskSummary?quantiles=0.5,1.0")
    med, top = summary["executorRunTime"]
    return top / med if med > 0 else 1.0


def attribute(tracer, rest, pass_result: dict, records: dict) -> list[dict]:
    """Per-query rows of the trace: Spark work, driver gap, memo and
    failed-work counts. Adds job and stage spans under the query's build
    or execute span."""
    spans = tracer.spans
    rows = []
    for q in pass_result["queries"]:
        lo, hi = q["start"], q["end"]
        qspan = next(s for s in spans
                     if s["kind"] == "query" and s["name"] == q["name"])
        phases = {s["name"]: s for s in spans
                  if s["kind"] == "phase" and s["parent"] == qspan["id"]}
        jobs = [j for j in records["jobs"] if lo <= j["start"] <= hi]
        stages = [s for s in records["stages"] if lo <= s["start"] <= hi]
        gap, covered = stats.driver_gap(
            (lo, hi), [(j["start"], j["end"]) for j in jobs])
        job_span = {}
        for j in jobs:
            phase = phases.get("build")
            if phase is None or j["start"] > phase["end"]:
                phase = phases.get("execute", qspan)
            job_span[j["id"]] = tracer.add(
                f"job {j['id']}", "spark.job", j["start"], j["end"],
                phase["id"], status=j["status"])
        for s in stages:
            owner = min((j["id"] for j in jobs if s["id"] in j["stage_ids"]),
                        default=None)
            tracer.add(f"stage {s['id']}.{s['attempt']}", "spark.stage",
                       s["start"], s["end"],
                       job_span.get(owner, qspan["id"]),
                       **{k: s[k] for k in ("status", "tasks", "run_s",
                                            "cpu_s", "shuffle_read_mb",
                                            "shuffle_write_mb")})
        heaviest = max(stages, key=lambda s: s["run_s"], default=None)
        under = _descendants(spans, qspan["id"])
        rows.append({
            "query": q["name"],
            "ok": q.get("ok"),
            "wall_s": hi - lo,
            "build_s": q["built"] - lo,
            "execute_s": hi - q["built"],
            "jobs": len(jobs),
            "jobs_failed": sum(j["status"] == "FAILED" for j in jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "jobs_union_s": covered,
            "driver_gap_s": gap,
            "executor_run_s": sum(s["run_s"] for s in stages),
            "stage_skew": stage_skew(rest, heaviest) if heaviest else 1.0,
            "memo_hits": sum(1 for s in under if s.get("hit") is True),
            "memo_misses": sum(1 for s in under if s.get("hit") is False),
            "memo_dead_repins": sum(1 for s in under if s.get("dead")),
            "triggers": len(q.get("triggers", [])),
        })
    return rows


def _descendants(spans: list[dict], root: int) -> list[dict]:
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for s in children.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def trigger_spans(tracer, pass_result: dict) -> None:
    """Each fold's committed triggers, as spans under its build phase
    (the folds run their streams while building)."""
    for q in pass_result["queries"]:
        qspan = next(s for s in tracer.spans
                     if s["kind"] == "query" and s["name"] == q["name"])
        build = next((s for s in tracer.spans if s["kind"] == "phase"
                      and s["parent"] == qspan["id"]), qspan)
        for t in q.get("triggers", []):
            tracer.add(f"trigger {t['batch']}", "stream.trigger",
                       t["start_ms"] / 1e3, t["commit_ms"] / 1e3, build["id"])


def layer_metrics(tracer, pass_result, records, rows, setup, progress,
                  overhead_s, rss_mb) -> dict:
    """Every per-layer metric of the traced pass."""
    spans = tracer.spans

    def calls(name):
        return sum(1 for s in spans if s["name"] == name)

    def secs(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    stages = records["stages"]
    ingest = ingest_figures([pass_result])
    hits, misses = tracer.counters["memo.hits"], tracer.counters["memo.misses"]
    durations = [p.get("durationMs", {}) for p in progress]
    last_state = {}
    for p in progress:
        if p.get("stateOperators"):
            last_state[p["id"]] = p["stateOperators"]
    state_ops = [op for ops in last_state.values() for op in ops]
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.peak_rss_mb": rss_mb,
        "io.read_table.calls": calls("io.read_table"),
        "io.read_table.s": secs("io.read_table"),
        "io.footer_probe.calls": calls("io.footer_probe"),
        "io.footer_probe.s": secs("io.footer_probe"),
        "plans.build_s": sum(r["build_s"] for r in rows),
        "plans.execute_s": sum(r["execute_s"] for r in rows),
        "spark.jobs": len(records["jobs"]),
        "spark.jobs_failed": sum(j["status"] == "FAILED"
                                 for j in records["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.driver_gap_s": sum(r["driver_gap_s"] for r in rows),
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spark.spill_mb": sum(s["spill_mb"] for s in stages),
        "spark.stage_skew": max((r["stage_skew"] for r in rows), default=1.0),
        "memo.hits": hits,
        "memo.misses": misses,
        "memo.dead_repins": tracer.counters["memo.dead_repins"],
        "memo.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "memo.eager_persist.calls": calls("memo.eager_persist"),
        "memo.eager_persist.s": secs("memo.eager_persist"),
        "stream.triggers": len(progress),
        "stream.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "stream.add_batch_ms": sum(d.get("addBatch", 0) for d in durations),
        "stream.wal_commit_ms": sum(d.get("walCommit", 0) for d in durations),
        "stream.commit_offsets_ms": sum(d.get("commitOffsets", 0)
                                        for d in durations),
        "stream.latest_offset_ms": sum(d.get("latestOffset", 0)
                                       for d in durations),
        "stream.query_planning_ms": sum(d.get("queryPlanning", 0)
                                        for d in durations),
        "stream.trigger_ms_p50": ingest["trigger_ms_p50"],
        "stream.ingest_rows_per_s": ingest["ingest_rows_per_s"],
        "side_state.fsyncs": tracer.counters["side_state.fsyncs"],
        "side_state.mb": sum(q.get("side_state_bytes", 0)
                             for q in pass_result["queries"]) / 2 ** 20,
        "python.eval_s": sum(p["eval_s"] for p in records["python"]),
        "python.mb_to_worker": sum(p["mb_to_worker"]
                                   for p in records["python"]),
        "stateful.state_rows": sum(op.get("numRowsTotal", 0)
                                   for op in state_ops),
        "stateful.state_mb": sum(op.get("memoryUsedBytes", 0)
                                 for op in state_ops) / 2 ** 20,
        "trace.overhead_s": overhead_s,
    }
    for fn in ("register_batch", "maybe_compact", "live_rows"):
        m[f"side_state.{fn}.calls"] = calls(f"side_state.{fn}")
        m[f"side_state.{fn}.s"] = secs(f"side_state.{fn}")
    m["side_state.read_side.calls"] = calls("side_state.read_side")
    return m


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------
def _child_pids(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in parents.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop Spark, then the driver JVM and its Python workers, and wait
    until every one of those processes has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _child_pids(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        workers = sorted(set(workers + _child_pids(proc.pid)))
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}"):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure for this long: passes start while the "
                         "next one is expected to end within it (always one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        preflight()
    except Failure as e:
        _log(f"perfbench: {e}")
        return 2
    spark_conf = prepare_environment()
    sys.path.insert(0, ROOT)
    import bench
    import pyspark

    from twitter_kafka_etl_spark.plans import REGISTRY
    from twitter_kafka_etl_spark.plans.oracle import duckdb_connection

    wl = WORKLOADS[args.workload]
    names = resolve(REGISTRY, wl.order(args.seed))
    sf_dir = os.path.join(WORK, "data", f"sf{wl.sf}")
    shutil.rmtree(sf_dir, ignore_errors=True)
    t0 = time.time()
    table_rows = datagen.write(sf_dir, wl.sf)
    datagen_s = time.time() - t0

    spark = None
    passes: list[dict] = []
    traced = None
    try:
        spark, warm, setup = set_up(spark_conf, REGISTRY, names, sf_dir,
                                    datagen_s)
        con = OracleResults(duckdb_connection(sf_dir))
        t_measure = time.time()
        ticks = cpu_ticks()
        while True:
            passes.append(run_pass(spark, REGISTRY, names, sf_dir))
            expected = stats.median([p["end"] - p["start"] for p in passes])
            if time.time() - t_measure + expected > args.seconds:
                break
        steal = steal_share(ticks, cpu_ticks())
        t_check = time.time()
        for p in (warm, *passes):
            check(p, REGISTRY, con)
        check_s = time.time() - t_check
        if args.trace:
            traced = traced_pass(spark, REGISTRY, names, sf_dir, con,
                                 setup, args, table_rows, passes)
        rss = peak_rss_mb(spark)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        stop_spark(spark)
    try:
        # after Spark has stopped, so nothing competes with the kernels
        calib = bench._calibrate() if args.trace else None
    finally:
        for scratch in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)

    checked = [warm, *passes] + (traced["passes"] if traced else [])
    attempted = sum(len(p["queries"]) for p in checked)
    failed = sum(not q["ok"] for p in checked for q in p["queries"])
    for p in checked:
        for q in p["queries"]:
            if not q["ok"]:
                _log(f"perfbench: {q['name']} failed: {q['error']}")
    walls = query_walls(passes)
    print(f"perfbench workload={wl.name} seed={args.seed} sf={wl.sf} "
          f"passes={len(passes)} queries_per_pass={len(names)} "
          f"order={','.join(n.split('_', 1)[0] for n in names)}")
    print(f"env SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"nproc={len(os.sched_getaffinity(0))} pyspark={pyspark.__version__} "
          f"java={java} python={platform.python_version()}")
    print("set-up " + " ".join(f"{k}={_fmt(v)}" for k, v in setup.items()))
    print(f"phases datagen_s={_fmt(datagen_s)} check_s={_fmt(check_s)} "
          f"total_s={_fmt(time.time() - PROCESS_START)} "
          f"cpu_steal_during_passes={steal:.3f}")
    for i, p in [("warmup", warm), *enumerate(passes)]:
        print(f"pass {i} wall_s={_fmt(p['end'] - p['start'])} " + " ".join(
            f"{q['name'].split('_', 1)[0]}={_fmt(q['end'] - q['start'])}"
            for q in p["queries"]))
    metrics = end_to_end(passes, setup)
    for k, v in metrics.items():
        print(f"{k} {_fmt(v)} {END_TO_END_UNITS[k]}")
    print(f"peak_rss_mb {_fmt(rss)} MB")
    if len(walls) >= 2 * stats.TAIL_BEYOND:
        tv, pct, n = stats.tail(walls)
        print(f"query_s_tail {_fmt(tv)} s (p{pct:.1f} of n={n})")
    else:
        print(f"query_s_tail unsupported: n={len(walls)} per-query samples, "
              f"a tail needs at least {2 * stats.TAIL_BEYOND}")
    ingest = ingest_figures(passes)
    if ingest["triggers"]:
        print(f"trigger_ms_p50 {_fmt(ingest['trigger_ms_p50'])} ms "
              f"(n={ingest['triggers']})")
        if ingest["trigger_ms_tail"]:
            print(f"trigger_ms_tail {_fmt(ingest['trigger_ms_tail'])} ms "
                  f"(p{ingest['trigger_tail_pct']:.1f} of "
                  f"n={ingest['triggers']})")
        else:
            print(f"trigger_ms_tail unsupported: n={ingest['triggers']} "
                  f"triggers, a tail needs at least {2 * stats.TAIL_BEYOND}")
        print(f"ingest_rows_per_s {_fmt(ingest['ingest_rows_per_s'])} 1/s")
    print(f"failed_frac {_fmt(failed / attempted)} ({failed} of {attempted} "
          "queries raised or mismatched the DuckDB oracle)")
    if traced:
        print(f"calib cpu_sec={calib['cpu_sec']} "
              f"fsync_ms_per_file={calib['fsync_ms_per_file']}")
        print(f"trace file {traced['file']}")
        print(f"trace.overhead_s {_fmt(traced['overhead_s'])} s (traced pass "
              "wall minus the mean of the untraced passes before and after "
              "it)")
        for row in traced["rows"]:
            print("query " + " ".join(
                f"{k}={_fmt(v) if isinstance(v, float) else v}"
                for k, v in row.items()))
        metrics = traced["metrics"]
        for k, v in metrics.items():
            print(f"{k} {_fmt(v)}")
        out_metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in metrics.items()}
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    tokens = last.split("_")
    if last.endswith("_per_s"):
        return "1/s"
    if "ms" in tokens:
        return "ms"
    if "mb" in tokens:
        return "MB"
    if tokens[-1] == "s":
        return "s"
    return "ratio" if last in ("hit_ratio", "stage_skew") else "count"


def traced_pass(spark, registry, names, sf_dir, con, setup, args,
                table_rows, untraced: list[dict]) -> dict:
    """A traced pass between the ``untraced`` ones and one more untraced
    pass. The JIT still speeds passes up, so the overhead estimate
    compares the traced wall with the mean of the untraced walls before
    and after it. Returns the per-layer metrics, the per-query rows and
    the trace file's path."""
    rest = SparkRest(spark.sparkContext)
    tracer = Tracer()
    tracer.anchor = tracer.add("run", "run", PROCESS_START, 0.0)
    tracer.install()
    try:
        with tracer.span("pass", "pass"):
            tp = run_pass(spark, registry, names, sf_dir, tracer)
    finally:
        tracer.uninstall()
    after = run_pass(spark, registry, names, sf_dir)
    for p in (tp, after):
        check(p, registry, con)
    records = spark_records(rest, (tp["start"], tp["end"]))
    rows = attribute(tracer, rest, tp, records)
    trigger_spans(tracer, tp)
    progress = stream_progress(tracer.queries)
    before = stats.median([p["end"] - p["start"] for p in untraced])
    after_s = after["end"] - after["start"]
    overhead = (tp["end"] - tp["start"]) - (before + after_s) / 2
    metrics = layer_metrics(tracer, tp, records, rows, setup, progress,
                            overhead, peak_rss_mb(spark))
    tracer.spans[0]["end"] = time.time()
    for s in tracer.spans:
        s["self_s"] = stats.self_time(
            (s["start"], s["end"]),
            [(c["start"], c["end"]) for c in tracer.spans
             if c["parent"] == s["id"]])
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces",
                        f"trace_{args.workload}_seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "order": names, "tables": table_rows,
                   "setup": setup, "metrics": metrics, "queries": rows,
                   "spans": tracer.spans}, fh)
    return {"passes": [tp, after], "rows": rows, "metrics": metrics,
            "file": path, "overhead_s": overhead}


if __name__ == "__main__":
    sys.exit(main())
