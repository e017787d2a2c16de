"""tools/scale.py: the scaled sf dir and the write-path cycle.

* ``make`` at 300 docs (pyarrow only): row counts, distinct texts =
  round(n / dup_factor), every corpus table split over several files,
  and the planted pairs file;
* ``pipeline`` at perfbench's smoke sizes (300 day-0 docs, one 50-doc
  batch) on the shared session: no failed check, and every write-path
  metric perfbench defines is reported.

Importing the tool also guards its imports of perfbench's ``gen``,
``workloads``, ``run`` and ``spans``.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from tools import scale

TABLES = os.path.join(scale.ROOT, "perfbench", "data", "sf0.001")


def test_make_writes_a_split_dup_heavy_sf_dir(tmp_path):
    out = str(tmp_path / "sf")
    scale.make(out, 300, dup_factor=3.0, seed=1, tables=TABLES)
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    emb = pq.read_table(os.path.join(out, "embeddings.parquet"))
    assert docs.num_rows == emb.num_rows == 300
    assert len(set(docs.column("text").to_pylist())) == round(300 / 3.0)
    for name in ("documents", "embeddings"):
        files = os.listdir(os.path.join(out, f"{name}.parquet"))
        assert len(files) >= 2 and all(f.endswith(".parquet") for f in files)
    with open(os.path.join(out, scale.PAIRS)) as fh:
        pairs = json.load(fh)
    ids = set(docs.column("doc_id").to_pylist())
    assert pairs["exact"] and pairs["near"]
    assert {i for pair in pairs["exact"] + pairs["near"] for i in pair} <= ids
    assert os.path.exists(os.path.join(out, "lineitem.parquet"))


def test_pipeline_at_smoke_size_passes_its_checks(spark, tmp_path):
    from workloads import INGEST_LAYER_METRICS

    metrics, run = scale.pipeline(spark, 300, 50, 1, seed=1,
                                  work_dir=str(tmp_path))
    assert run.failed == 0, run.problems
    assert {name for name, _ in INGEST_LAYER_METRICS} <= set(metrics)
    assert metrics["plans.corpus_prep.jobs"] > 0
