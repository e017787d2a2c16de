"""The benchmark's own tests.

    python3 -m pytest perfbench -q                 # fast tests only
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench  # plus a Spark smoke run per workload
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _funnel_pass(text: str) -> bool:
    toks = text.split(" ")
    rep = 1 - len(set(toks)) / len(toks)
    return len(toks) >= 10 and rep <= 0.6 and bool(set(toks) & set(gen.STOPWORDS))


def test_generator_is_seeded():
    a, b, c = (gen.make_corpus(s, 600) for s in (5, 5, 6))
    assert a.content_hash() == b.content_hash()
    assert (len(a.exact_pairs), len(a.near_pairs)) == (len(b.exact_pairs), len(b.near_pairs))
    assert a.content_hash() != c.content_hash()
    assert (a.exact_pairs, a.near_pairs) != (c.exact_pairs, c.near_pairs)
    b1, b2, b3 = (gen.make_batch(s, a, 80, 10_000) for s in (7, 7, 8))
    assert b1.content_hash() == b2.content_hash() != b3.content_hash()


def test_batch_ground_truth():
    c = gen.make_corpus(4, 600)
    b = gen.make_batch(9, c, 100, 10_000)
    text = dict(zip(c.doc_id, c.text))
    btext = dict(zip(b.doc_id, b.text))
    assert len(b.exact_pairs) == len(b.near_pairs) == 15
    assert all(btext[x] == text[o] for x, o in b.exact_pairs)
    assert all(btext[x] != text[o] for x, o in b.near_pairs)
    assert all(_funnel_pass(t) for t in b.text)


def test_sf_dir_has_every_table(tmp_path):
    from irio2024_mapreduce_spark.sources.tables import TABLE_NAMES

    for size, (tables, n_docs) in workloads.QueryBattery.sizes.items():
        out = tmp_path / size
        gen.write_sf_dir(str(out), os.path.join(workloads.DATA, tables), 1,
                         gen.make_corpus(1, n_docs))
        assert {f"{t}.parquet" for t in TABLE_NAMES} <= set(os.listdir(out))


def test_cpu_split_counts_this_process():
    cpu = run.cpu_split(os.getpid())
    assert set(cpu) == {"driver_cpu_s", "jvm_cpu_s", "worker_cpu_s"}
    assert cpu["jvm_cpu_s"] > 0 and cpu["worker_cpu_s"] >= 0


def test_dupheavy_ground_truth():
    c = gen.make_corpus(3, 900)
    assert 2.8 <= c.dup_factor <= 3.2
    text = dict(zip(c.doc_id, c.text))
    assert all(text[x] == text[o] and x > o for x, o in c.exact_pairs)
    assert all(text[x] != text[o] for x, o in c.near_pairs)
    assert len(set(c.doc_id)) == len(c.doc_id) == 900
    # English stopwords and low repetition: the quality funnel keeps them
    assert all(_funnel_pass(t) for t in c.text)


def test_p90_needs_ten_samples_beyond_it():
    assert "p90" not in run.percentiles([float(i) for i in range(99)])
    p = run.percentiles([float(i) for i in range(100)])
    assert p["p90"] == 89.0 and sum(1 for i in range(100) if i > p["p90"]) == 10
    assert run.percentiles([3.0, 1.0, 2.0]) == {"p50": 2.0}


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == workloads.layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *layers]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="starts Spark")
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_passes_its_checks(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", trace, "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = workloads.layer_units() if trace == "1" else run.END_TO_END
    assert set(res["metrics"]) == set(want)
