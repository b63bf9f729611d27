"""Smoke: the driver contract (entry / queries / oracle_sql) is sound."""

from __future__ import annotations

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "__spark_entry__.py"),
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    cols = set(df.columns)
    assert {"topic_agg", "positivity_rate", "counts", "topic"} <= cols
    # pivot labels present
    assert {"joy", "anger", "love", "fear", "sadness", "surprise"} <= cols


def test_queries_and_oracles_align():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert q, "no queries registered"
    assert set(o) <= set(q)
    for name, fn in q.items():
        assert callable(fn), name


def test_rotation_order_from_synthetic_history(tmp_path):
    """The driver window is derived from CORRECTNESS history files:
    rewritten-since-check first, then latest-green ascending
    (never-checked = round 0), name tie-break."""
    import json

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a_old": {"rows_match": True, "schema_match": True,
                  "hash_match": True},
        "b_refreshed": {"rows_match": True, "schema_match": True,
                        "hash_match": True},
        "c_red": {"rows_match": False, "schema_match": True,
                  "hash_match": False},
        "e_rewritten": {"rows_match": True, "schema_match": True,
                        "hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "b_refreshed": {"rows_match": True, "schema_match": True,
                        "hash_match": True},
        # hash-less rows-only check still counts as that round's green
        "f_rowsonly": {"rows_match": True, "schema_match": True,
                       "hash_match": None},
    }))
    # non-matching / corrupt files are ignored, not fatal
    (tmp_path / "CORRECTNESS_r02.json").write_text("{not json")
    (tmp_path / "BENCH_r01.json").write_text("{}")

    latest = entry_mod._latest_green(str(tmp_path))
    assert latest == {"a_old": 1, "b_refreshed": 3, "e_rewritten": 1,
                      "f_rowsonly": 3}

    names = ["b_refreshed", "a_old", "d_never", "c_red", "f_rowsonly",
             "e_rewritten"]
    order = entry_mod._rotation_order(
        names, latest, rewritten_in={"e_rewritten": 2, "b_refreshed": 2}
    )
    # e_rewritten: rewrite r2 > green r1 → fronted.
    # b_refreshed: rewrite r2 < green r3 → driver has seen it; normal rank.
    # c_red (red = never green) and d_never sort as round 0.
    assert order == ["e_rewritten", "c_red", "d_never", "a_old",
                     "b_refreshed", "f_rowsonly"]


def test_r8_window_as_historical_fact(tmp_path):
    """The rotation rule, fed ONLY the frozen r01-r07 history plus the
    r8-era ``_REWRITTEN_IN`` map, predicts the exact 50-query set the
    driver verified in round 8 (CORRECTNESS_r08.json). Every input is a
    tracked, immutable file — unlike the r8-era live-window test this
    replaced, nothing here changes when later rounds land."""
    import json
    import shutil

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    union: set[str] = set()
    for r in range(1, 9):
        path = os.path.join(root, f"CORRECTNESS_r0{r}.json")
        union |= set(json.load(open(path, encoding="utf-8")))
        if r < 8:  # the window the r8 driver saw derives from r01-r07
            shutil.copy(path, tmp_path)
    latest = entry_mod._latest_green(str(tmp_path))
    order = entry_mod._rotation_order(
        sorted(union),
        latest,
        rewritten_in={  # _REWRITTEN_IN as committed at the r8 driver run
            "x98_dedup_method_agreement": 7,
            "qs14_stream_novelty": 8,
            "qs12_stream_incremental_dedup": 8,
        },
    )
    with open(os.path.join(root, "CORRECTNESS_r08.json"),
              encoding="utf-8") as fh:
        r8_checked = set(json.load(fh))
    assert set(order[:50]) == r8_checked
    # rewritten-since-check fronted; never-checked (x102) next
    assert order[:3] == ["qs14_stream_novelty",
                         "x98_dedup_method_agreement",
                         "qs12_stream_incremental_dedup"]
    assert order[3] == "x102_pair_collapsed_form"


def test_live_window_fronts_oldest_debt():
    """Live invariants of the emission order that hold every round by
    construction of the rule (no snapshot of a particular round):
    stale rewrites first, then latest-green ascending."""
    names = list(entry_mod.queries())
    latest = entry_mod._latest_green()
    rewritten = entry_mod._effective_rewritten()
    stale = {n for n in names
             if rewritten.get(n, 0) > latest.get(n, 0)}
    k = len(stale)
    assert set(names[:k]) == stale
    # WITHIN the stale group, oldest green first — when a wide rewrite
    # (r14: read_table) fronts more queries than the 50-slot window
    # holds, this ordering is what guarantees the window still spends
    # its slots on the oldest debt
    stale_rounds = [latest.get(n, 0) for n in names[:k]]
    assert stale_rounds == sorted(stale_rounds)
    rest_rounds = [latest.get(n, 0) for n in names[k:]]
    assert rest_rounds == sorted(rest_rounds)
    # the 50-slot window therefore never holds a query younger than the
    # tail (comparable only for the non-stale remainder of the window;
    # with k >= 50 the window is all-stale and the group assertions
    # above already pin its order)
    window, tail = names[:50], names[50:]
    if tail and k < 50:
        assert max(latest.get(n, 0) for n in window[k:]) <= min(
            latest.get(n, 0) for n in tail
        )
    elif tail and k > 50:
        # all-stale window: it must hold the stale group's oldest debt
        assert max(latest.get(n, 0) for n in window) <= min(
            latest.get(n, 0) for n in names[50:k]
        )


def test_impact_scan_fronts_every_consumer_of_a_rewrite():
    """Planting a synthetic rewrite marker on one dedup function must
    front EVERY registry query that transitively embeds it — the
    mechanical replacement for the r9 hand scan (r9 verdict #2)."""
    import pytest

    from twitter_kafka_etl_spark.plans import impact

    target = "operators.dedup.minhash_lsh_pairs"
    consumers = impact.consumers_of(target)
    # the r9 review's hand-derived embedding list, as committed in the
    # r9-era _REWRITTEN_IN — the scan must find at least all of those
    assert {
        "x03_dedup_minhash_lsh_pairs", "x25_dedup_components",
        "x46_dedup_jaccard_estimate", "x59_lsh_eval",
        "x60_nearest_duplicate", "x63_pair_graph_degree",
        "x65_split_leakage", "x91_cross_source_leakage",
        "x99_dedup_source_yield", "x73_edit_distance_verify",
        "x102_pair_collapsed_form",
    } <= consumers
    names = list(entry_mod.queries())
    latest = entry_mod._latest_green()
    marked = entry_mod.sys.maxsize  # newer than any real round
    order = entry_mod._rotation_order(
        names, latest, impact.rewritten_queries({target: marked})
    )
    assert set(order[: len(consumers)]) == consumers
    # a typo'd target fails LOUDLY instead of silently unfronting
    with pytest.raises(ValueError, match="matches no definition"):
        impact.consumers_of("operators.dedup.no_such_function")


def test_impact_graph_internals():
    """Pin the graph-construction primitives directly: dotted-chain
    flattening, relative-import resolution, nested-builder
    attribution, and oracle-constant nodes reachable through a
    registration decorator's f-string."""
    import ast

    from twitter_kafka_etl_spark.plans import impact

    assert impact._dotted(ast.parse("a.b.c", mode="eval").body) == "a.b.c"
    assert impact._dotted(ast.parse("f().b", mode="eval").body) is None
    assert impact._resolve_from("p.q.r", 1, "s") == "p.q.s"
    assert impact._resolve_from("p.q.r", 2, None) == "p"
    assert impact._resolve_from("p.q.r", 0, "x.y") == "x.y"
    g = impact.reference_graph()
    # nested builders attribute to their enclosing top-level register
    # helper (the _register_qs15 pattern), and the registry maps the
    # query to that node
    helper = "twitter_kafka_etl_spark.streaming.queries._register_qs15"
    assert helper in g
    assert impact._query_nodes()["qs15_stream_heavy_hitters"] == helper
    # module-level oracle constants are graph nodes, and a builder
    # reaches them through its decorator's oracle f-string
    cte = "twitter_kafka_etl_spark.plans.extensions._IVF_ASSIGN_CTE"
    assert cte in g
    assert cte in g[impact._query_nodes()["x66_semantic_dedup"]]
    # relative-import resolution is package-aware: `from . import x`
    # inside pkg/sub/__init__.py is pkg.sub.x, NOT pkg.x (r10 advisor
    # finding — conflating the two silently severs edges)
    assert impact._resolve_from("p.q", 1, None, is_pkg=True) == "p.q"
    assert impact._resolve_from("p.q", 1, None, is_pkg=False) == "p"
    assert impact._resolve_from("p.q", 2, "s", is_pkg=True) == "p.s"
    # beyond-top-level relative imports raise (r11 advice) — Python
    # itself raises ImportError here; a silently empty base would mint
    # phantom graph nodes that match nothing
    import pytest

    with pytest.raises(ValueError, match="escapes package"):
        impact._resolve_from("p.q.r", 3, "s")
    with pytest.raises(ValueError, match="escapes package"):
        impact._resolve_from("p.q", 3, None, is_pkg=True)
    # the boundary cases just inside the limit still resolve
    assert impact._resolve_from("p.q.r", 3, "s", is_pkg=True) == "p.s"


def test_impact_graph_package_init_and_tuple_targets(tmp_path):
    """Synthetic-module regression tests for the two r10 advisor
    under-approximation hazards: (a) a relative import inside a
    package __init__ resolves against the package itself; (b) tuple-
    unpacking assignments register every bound name as a graph node
    carrying the value expression's references."""
    from twitter_kafka_etl_spark.plans import impact

    pkg = impact._PKG
    # (a) fakepkg/sub/__init__.py does `from . import helper` and a
    # function in it references helper.target — the edge must land on
    # {pkg}.sub.helper.target, not {pkg}.helper.target
    init_src = (
        "from . import helper\n"
        "def caller():\n"
        "    return helper.target()\n"
    )
    helper_src = "def target():\n    return 1\n"
    init_path = tmp_path / "__init__.py"
    helper_path = tmp_path / "helper.py"
    init_path.write_text(init_src)
    helper_path.write_text(helper_src)
    modules = {
        f"{pkg}.sub": str(init_path),
        f"{pkg}.sub.helper": str(helper_path),
    }
    packages = frozenset({f"{pkg}.sub"})
    scan = impact._ModuleScan(
        f"{pkg}.sub", str(init_path), modules, packages
    )
    assert scan.alias_mod.get("helper") == f"{pkg}.sub.helper"
    assert f"{pkg}.sub.helper.target" in scan.edges()[f"{pkg}.sub.caller"]
    # without package-awareness the same source resolves to the broken
    # {pkg}.helper (not a module here → alias_sym), severing the edge —
    # pin the contrast so a regression is visible
    broken = impact._ModuleScan(
        f"{pkg}.sub", str(init_path), modules, frozenset()
    )
    assert broken.alias_mod.get("helper") != f"{pkg}.sub.helper"
    # (b) tuple unpacking: A, B = _build_pair() must register A and B
    # as nodes whose refs include _build_pair, so rewrites of
    # _build_pair reach consumers of A or B
    tup_src = (
        "def _build_pair():\n"
        "    return 1, 2\n"
        "A, B = _build_pair()\n"
        "def consumer():\n"
        "    return A\n"
    )
    tup_path = tmp_path / "tup.py"
    tup_path.write_text(tup_src)
    tmod = f"{pkg}.tup"
    tscan = impact._ModuleScan(tmod, str(tup_path), {tmod: str(tup_path)})
    edges = tscan.edges()
    assert f"{tmod}._build_pair" in edges[f"{tmod}.A"]
    assert f"{tmod}._build_pair" in edges[f"{tmod}.B"]
    assert f"{tmod}.A" in edges[f"{tmod}.consumer"]


def test_impact_graph_alias_shadowing_over_approximates(tmp_path):
    """Pin the documented safe bias: function-local import aliases are
    treated as module-wide, so a local alias SHADOWING another module's
    name adds edges for both readings instead of picking one. Under-
    approximation (a missed consumer) is the failure mode the graph
    exists to kill; over-approximation costs one extra re-verification
    slot. If scoped-alias resolution ever replaces this, the assertions
    below say which edges may disappear — the shadowed-function edge to
    ops_a.target must survive any refinement."""
    from twitter_kafka_etl_spark.plans import impact

    pkg = impact._PKG
    src = (
        f"from {pkg} import ops_a as ops\n"
        "def uses_a():\n"
        "    return ops.target()\n"
        "def uses_b():\n"
        f"    from {pkg} import ops_b as ops\n"
        "    return ops.target()\n"
    )
    path = tmp_path / "shadow.py"
    path.write_text(src)
    mod = f"{pkg}.shadow"
    modules = {
        mod: str(path),
        f"{pkg}.ops_a": str(path),  # paths unused for alias resolution
        f"{pkg}.ops_b": str(path),
    }
    scan = impact._ModuleScan(mod, str(path), modules)
    edges = scan.edges()
    # the module-wide alias map keeps ONE binding for `ops` (last walk
    # wins), so at least one of the two functions points at the other's
    # module — the over-approximating direction. Neither function may
    # end up with NO ops edge, and the union across both functions must
    # cover the binding that won.
    all_refs = edges[f"{mod}.uses_a"] | edges[f"{mod}.uses_b"]
    assert edges[f"{mod}.uses_a"] and edges[f"{mod}.uses_b"]
    assert (
        f"{pkg}.ops_a.target" in all_refs
        or f"{pkg}.ops_b.target" in all_refs
    )
    # and a rewrite declared on whichever module won the alias fronts
    # BOTH functions (the conservative expansion the rotation relies on)
    won = (
        f"{pkg}.ops_a.target"
        if f"{pkg}.ops_a.target" in all_refs
        else f"{pkg}.ops_b.target"
    )
    assert won in edges[f"{mod}.uses_a"]
    assert won in edges[f"{mod}.uses_b"]


def test_no_dynamic_dispatch_blinds_the_impact_graph():
    """impact.py documents dynamic dispatch (getattr over a module,
    globals()/locals() lookups) as out of scope because the engine has
    none — this test turns that claim into an invariant. A getattr
    whose first argument is a package-module alias, or a
    globals()/locals() subscript, could route a call the reference
    graph cannot see, silently unfronting rewritten consumers.
    (Attribute-flag reads like getattr(spark, '_tkes_pinned', False)
    are fine: the first argument is not a module.)"""
    import ast

    from twitter_kafka_etl_spark.plans import impact

    offenders = []
    modules, packages = impact._modules()
    for mod, path in sorted(modules.items()):
        scan = impact._ModuleScan(mod, path, modules, packages)
        for node in ast.walk(scan.tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name) and fn.id == "getattr":
                arg0 = node.args[0] if node.args else None
                if isinstance(arg0, ast.Name) and (
                    arg0.id in scan.alias_mod
                ):
                    offenders.append(f"{mod}:{node.lineno} getattr(module)")
            if isinstance(fn, ast.Name) and fn.id in (
                "globals", "locals", "vars"
            ):
                offenders.append(f"{mod}:{node.lineno} {fn.id}()")
    assert not offenders, (
        "dynamic dispatch found — the impact reference graph cannot "
        f"track these; add manual _REWRITTEN_IN entries or refactor: "
        f"{offenders}"
    )


def test_rewritten_ops_expansion_is_the_r10_hand_list():
    """The r10 operator-level declarations (fed literally — the live
    dict was pruned in r11 once CORRECTNESS_r10 hashed every consumer
    green) expand to exactly the consumer set a hand scan derives:
    ivf_assign/topk_ivf + the shared oracle CTE → x16/x66/x67,
    heavy_hitters_from_sketch → x52/qs15. Function-LOCAL imports must
    be resolved (qs15 imports sketches inside its builder) and oracle
    CTE constants must be graph nodes."""
    from twitter_kafka_etl_spark.plans.impact import rewritten_queries

    expanded = rewritten_queries({
        # _REWRITTEN_OPS as committed at the r10 driver run
        "operators.similarity.ivf_assign": 10,
        "operators.similarity.topk_ivf": 10,
        "plans.extensions._IVF_ASSIGN_CTE": 10,
        "operators.sketches.heavy_hitters_from_sketch": 10,
        "operators.multimodal.media_fixture_payloads": 10,
    })
    assert {n for n, r in expanded.items() if r == 10} == {
        "x16_sim_ivf", "x66_semantic_dedup", "x67_prototype_prune",
        "x52_heavy_hitters", "qs15_stream_heavy_hitters",
        "x103_media_decode",
    }


def test_end_to_end_example(spark, sf_dir, tmp_path):
    """The reference's full pipeline shape runs green with the
    enrichment stage backed by LEARNED .npz artifacts (r10 verdict #3):
    two checkpoints are trained and persisted at setup, loaded
    executor-side through the make_classifier seam, and their labels
    flow through topic_aggregates with the serving schema unchanged."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples", "end_to_end.py",
    )
    spec = importlib.util.spec_from_file_location("e2e", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    work = str(tmp_path / "e2e")
    pdf = mod.main(sf_dir, work=work)
    assert len(pdf) > 0
    assert set(pdf.columns) == {"topic_agg", "emotion", "counts"}
    assert (pdf["counts"] >= 0).all()
    # the artifacts the enrichment stage loaded are real files with the
    # documented checkpoint layout
    import numpy as np

    for name, classes in (
        ("sentiment", mod.SENTIMENTS), ("emotion", mod.EMOTIONS)
    ):
        art = np.load(os.path.join(work, "models", f"{name}.npz"))
        assert art["W"].shape == (int(art["n_buckets"]), len(classes))
        assert sorted(str(c) for c in art["classes"]) == sorted(classes)
    # artifact-backed labels actually reached the serving layer:
    # topic_aggregates pivots with the EXPLICIT emotion list and
    # fill=0, so a label outside the artifact's class set would DROP
    # its rows from the pivot — total counts reconstruct the enriched
    # row count only if every event's label came back in-set (the
    # emotion column itself is the pivot's column list, so asserting
    # on it alone would be tautological — r11 review finding)
    import pyarrow.parquet as pq

    n_events = pq.ParquetFile(
        os.path.join(sf_dir, "events.parquet")
    ).metadata.num_rows
    assert int(pdf["counts"].sum()) == n_events
    # and the artifacts are learned models, not pass-throughs: the
    # executor-side backend reproduces the training labels on the
    # seed corpora
    import pandas as pd

    from twitter_kafka_etl_spark.operators.model_artifact import (
        linear_model_backend,
    )

    for name, seed in (
        ("sentiment", mod._SENTIMENT_SEED), ("emotion", mod._EMOTION_SEED)
    ):
        backend = linear_model_backend(
            os.path.join(work, "models", f"{name}.npz")
        )
        texts = [t for label, ts in seed.items() for t in ts]
        want = [label for label, ts in seed.items() for _ in ts]
        got = backend(pd.Series(texts))
        assert list(got) == want
