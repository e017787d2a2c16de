"""Driver-contract invariants."""

from __future__ import annotations

from irio2024_mapreduce_spark import registry


def test_every_oracle_key_has_a_query():
    qs = registry.queries()
    osql = registry.oracle_sql()
    assert set(osql) <= set(qs)
    # r9: EVERY registered query has a full oracle. The last two
    # rows-only rows closed: similarity_ivf's trained centroids are
    # deterministic constants of (data, code) and are injected into
    # the SQL after an out-of-Spark training replay (bit-exact xxh64
    # sample selection + the same numpy Lloyd fixpoint); the graded
    # near-dedup row is now the md5-hash-family twin dedup_near_md5
    # (identical pipeline, DuckDB-computable hash), with the xxhash64
    # production default retired to the rows-only local pool.
    rows_only = set(qs) - set(osql)
    assert rows_only == set()


def test_registry_fits_driver_window():
    # the driver grades only the first 50 entries (r01: 55 registered,
    # exactly 50 graded) — every registered query must be inside
    assert len(registry.queries()) <= registry.DRIVER_QUERY_WINDOW


def test_entry_smoke(spark):
    df = registry.entry(spark)
    assert df.columns == ["word", "cnt"]
    assert df.count() > 0


# The driver's grading window is POSITIONAL: it grades the first 50
# queries() entries in dict order. This snapshot pins the exact ordered
# list so a module reorder or an insertion can never silently change
# which queries are graded — any change here must be an explicit,
# reviewed edit.
EXPECTED_QUERY_ORDER = [
    "wordcount", "custom_step_udf", "streaming_wordcount",
    "streaming_event_counts", "streaming_sessionize",
    "streaming_click_purchase_join",
    "multimodal_pipeline", "multimodal_meta", "multimodal_frames",
    "filter_project", "agg_groupby", "agg_distinct", "agg_rollup",
    "join_broadcast", "join_shuffle", "join_semi_anti", "join_outer",
    "window_rank", "window_running", "sort_limit_topk", "set_ops",
    "scalar_funcs", "join_range", "join_asof", "pivot_status_priority",
    "stats_pack", "grouping_sets", "time_rollup",
    "conditional_agg", "deterministic_sample", "doc_chunk",
    "dedup_clusters", "event_sliding",
    "event_session", "json_extract", "array_ops", "dedup_exact",
    "dedup_near_md5", "dedup_ngram_jaccard",
    "dedup_embedding", "dedup_incremental",
    # r12: the graded ANN slot is the STORED-index path (r11 verdict
    # item 5) — probe_ann_index builds/probes the versioned on-disk
    # index; the fly twin similarity_ann retired to the locally-
    # verified pool (bit parity pinned in tests/test_ann_index.py)
    "similarity_topk", "probe_ann_index",
    # r13: the graded IVF slot is the STORED-index path too (r12
    # verdict item 6) — probe_ivf_index builds/probes the versioned
    # cell-partitioned index; the fly twin similarity_ivf retired to
    # the locally-verified pool (parity pinned in
    # tests/test_ivf_index.py; its data-dependent oracle is replayed
    # per sf_dir by tests/test_retired_twins.py)
    "probe_ivf_index", "text_analysis", "lang_id", "quality_score",
    "quality_funnel", "bm25_search",
    "decontaminate",
]


def test_registry_order_is_pinned():
    assert list(registry.queries()) == EXPECTED_QUERY_ORDER


def test_json_corpus_free_of_engine_asymmetric_leniency():
    """json_extract is hash-graded while Jackson (Spark) and yyjson
    (DuckDB) disagree on two leniency classes: Jackson tolerates
    trailing garbage after a valid value, yyjson tolerates trailing
    commas. No engine switch aligns them, so the oracle contract
    instead REQUIRES the corpus to be free of both classes — asserted
    here over every graded scale factor (strictly-valid JSON is parsed
    identically by both engines and needs no check)."""
    import json
    import os

    import pandas as pd

    decoder = json.JSONDecoder()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        props = pd.read_parquet(path, columns=["props"])["props"]
        for p in props:
            if p is None or not isinstance(p, str):
                continue
            try:
                json.loads(p)
                continue  # strictly valid → both engines agree
            except ValueError:
                pass
            stripped = p.strip()
            # Jackson-only leniency: valid JSON prefix + trailing junk
            try:
                _, end = decoder.raw_decode(stripped)
                assert end >= len(stripped), (
                    f"corpus value with trailing garbage (Jackson accepts, "
                    f"yyjson rejects): {p!r}"
                )
            except ValueError:
                pass  # no valid prefix → both engines reject
            # yyjson-only leniency: trailing comma before a closer
            import re

            assert not re.search(r",\s*[}\]]\s*\Z", stripped), (
                f"corpus value with trailing comma (yyjson accepts, "
                f"Jackson rejects): {p!r}"
            )


def test_bench_headline_queries_are_registered():
    # bench.py errors at runtime on missing names; catch it at test
    # time instead so retiring a twin can't silently break the bench
    import bench

    # dedup_simhash and similarity_ann left the driver window but stay
    # benched (perf-series continuity) — bench resolves them from the
    # retired pool, so the benchable surface is the union
    assert set(bench.HEADLINE) <= (
        set(registry.queries()) | set(registry.retired_queries())
    )
    # the r01-comparable subtotal must cover EXACTLY the rounds-1/2
    # HEADLINE (no swaps, drops, or duplicates) — else the cross-round
    # comparison the field exists for is silently wrong
    assert sorted(bench.R01_COMPARABLE) == sorted(
        [
            "wordcount", "filter_project", "agg_groupby", "agg_rollup",
            "join_broadcast", "join_shuffle", "join_outer",
            "window_running", "sort_limit_topk", "event_sliding",
            "event_session", "json_extract", "dedup_exact", "dedup_near",
            "similarity_topk", "text_analysis", "join_asof", "stats_pack",
            "time_rollup", "conditional_agg",
        ]
    )
    assert set(bench.R01_COMPARABLE) <= set(bench.HEADLINE)


def test_bench_summary_line_fits_driver_tail_capture():
    # BENCH_r05.json came back "parsed": null because the enriched
    # stdout line outgrew the driver's ~2 KiB tail capture. The final
    # stdout line is now the compact summary only; pin its worst-case
    # size so a future field addition can't silently reintroduce the
    # overflow. Worst case: every query at 9999.999 s. The worst case
    # must carry every key of the line bench.py prints last, or the pin
    # measures a smaller line than the real one.
    import ast
    import inspect
    import json

    import bench

    worst = {
        "metric": "headline_queries_total_time",
        "value": 99999.999,
        "unit": "sec",
        "value_r01_comparable_subset": 99999.999,
        "queries": {name: 9999.999 for name in bench.HEADLINE},
        "transient_count": len(bench.HEADLINE),
        "machine_canary_sec": 9999.999,
        "subset_canary_normalized_sec": 9999.999,
        "canary_steady_median_sec": 9999.999,
        "subset_steady_normalized_sec": 9999.999,
        "load_flagged": False,  # longer than true
        "stored_probe": {
            q: {"build": 9999.999, "probe": 9999.999}
            for q in ("probe_ann_index", "probe_ivf_index")
        },
        "detail": "BENCH_DETAIL_last.json",
        "sf": "/root/testdata/sf0.1",
        "cpus": 9999,
        "load_avg_start": [99.99, 99.99, 99.99],
        "load_avg_end": [99.99, 99.99, 99.99],
    }
    dumps = [
        node for node in ast.walk(ast.parse(inspect.getsource(bench)))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) == "json.dumps"
        and node.args and isinstance(node.args[0], ast.Dict)
    ]
    last = max(dumps, key=lambda node: node.lineno)
    printed = [ast.literal_eval(k) for k in last.args[0].keys]
    assert set(worst) == set(printed)
    assert len(json.dumps(worst)) < 1800


def test_tool_names_do_not_shadow_stdlib():
    """A script run as ``python tools/x.py`` puts ``tools/`` on sys.path,
    so a ``tools/profile.py`` would replace the stdlib ``profile`` that
    pyspark's cProfile import loads, and every tool would fail at import."""
    import glob
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = {
        os.path.splitext(os.path.basename(f))[0]
        for f in glob.glob(os.path.join(root, "tools", "*.py"))
    }
    assert not names & set(sys.stdlib_module_names)


def test_tool_imports_resolve():
    """Every package name that ``tools/*.py``, ``bench.py`` and
    ``perfbench/*.py`` import, and every attribute they read off an
    imported package module (``D._band_rows``), exists: a helper moved
    or deleted in the package must take its tool callers along. The
    scripts are only parsed, never run."""
    import ast
    import glob
    import importlib
    import os
    import types

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = (
        glob.glob(os.path.join(root, "tools", "*.py"))
        + [os.path.join(root, "bench.py")]
        + glob.glob(os.path.join(root, "perfbench", "*.py"))
    )
    n, missing = 0, []
    for f in sorted(files):
        with open(f) as fh:
            tree = ast.parse(fh.read())
        mods = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).startswith("irio2024_mapreduce_spark"):
                for a in node.names:
                    n += 1
                    try:
                        m = importlib.import_module(node.module)
                        mods[a.asname or a.name] = (
                            getattr(m, a.name)
                            if hasattr(m, a.name)
                            else importlib.import_module(
                                f"{node.module}.{a.name}"
                            )
                        )
                    except ImportError:
                        missing.append((f, node.module, a.name))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("irio2024_mapreduce_spark"):
                        n += 1
                        mods[a.asname or a.name] = importlib.import_module(
                            a.name
                        )
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and isinstance(mods.get(node.value.id), types.ModuleType)
            ):
                n += 1
                if not hasattr(mods[node.value.id], node.attr):
                    missing.append((f, node.value.id, node.attr))
    assert n > 0
    assert missing == [], missing
