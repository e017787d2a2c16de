"""Streaming ingest: the foreachBatch mount of the ingest driver must
process file-batches in order, with batch 2's duplicates of batch 1's
admissions convicted by the index rows batch 1 appended — the same
two-day scenario test_ingest.py pins for the batch form, replayed
through a Structured Streaming file source."""

from __future__ import annotations

import pytest
import os

import pandas as pd

from irio2024_mapreduce_spark.plans.ingest import build_corpus_index
from irio2024_mapreduce_spark.streaming.ingest_stream import (
    run_ingest_stream,
)

T_CORPUS0 = (
    "the ancient library kept thousands of scrolls catalogued by "
    "patient scribes over centuries"
)
T_FRESH1 = (
    "the mountain trail crossed seven wooden bridges before "
    "reaching the snowy summit ridge"
)
T_NEAR = (
    "the mountain trail crossed seven wooden bridges before "
    "reaching the snowy summit pass"
)
T_FRESH2 = (
    "the night train rattled past sleeping towns carrying mail "
    "and quiet travellers north"
)


def _write_batch(path, rows):
    pd.DataFrame(
        {
            "doc_id": [i for i, _ in rows],
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": ["src0"] * len(rows),
            "n_chars": [len(t or "") for _, t in rows],
        }
    ).to_parquet(path)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_stream_keeps_similarity_indexes_fresh(spark, tmp_path):
    """emb_col + ann/ivf dirs: every micro-batch's ADMITTED vectors
    join the stored indexes inside the batch's transactional commit —
    duplicates' and killed docs' vectors never enter; a probe after
    the stream answers over the full corpus."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from irio2024_mapreduce_spark.operators.ann_index import (
        build_ann_index,
        probe_ann_index,
        read_ann_manifest,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        build_ivf_index,
        probe_ivf_index,
        read_ivf_manifest,
    )
    from irio2024_mapreduce_spark.operators.similarity import EMB_DIM

    def vec(seed):
        rng = random.Random(seed)
        return [rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]

    def write_batch_emb(path, rows):
        pd.DataFrame(
            {
                "doc_id": [i for i, _ in rows],
                "text": [t for _, t in rows],
                "lang": ["en"] * len(rows),
                "source": ["src0"] * len(rows),
                "n_chars": [len(t or "") for _, t in rows],
                "emb": [vec(i) for i, _ in rows],
            }
        ).to_parquet(path)

    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    ann, ivf = str(tmp_path / "ann"), str(tmp_path / "ivf")
    src = tmp_path / "incoming"
    src.mkdir()
    seed = spark.createDataFrame(
        [(100, T_CORPUS0, "en", "src0", len(T_CORPUS0))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    build_corpus_index(spark, seed, idx)
    seed_emb = spark.createDataFrame(
        [(100, vec(100))], "vec_id long, v array<double>"
    )
    build_ann_index(spark, seed_emb, ann, bits=8)
    build_ivf_index(spark, seed_emb, ivf, k_cells=1)

    write_batch_emb(
        src / "day1.parquet",
        [(200, T_FRESH1), (201, T_CORPUS0), (202, None)],
    )
    write_batch_emb(src / "day2.parquet", [(300, T_FRESH1), (302, T_FRESH2)])
    schema = spark.read.parquet(str(src)).schema
    manifests = run_ingest_stream(
        spark, str(src), schema, idx, out, files_per_trigger=1,
        emb_col="emb", ann_index_dir=ann, ivf_index_dir=ivf,
    )
    assert [m["appended"] for m in manifests] == [1, 1]

    # committed set = layout ∪ per-batch deltas (r13: micro-batches
    # publish as delta dirs; the maintenance fold moves them later)
    from irio2024_mapreduce_spark.operators.ann_index import (
        FAMILY as ANN,
    )
    from irio2024_mapreduce_spark.operators.ivf_index import (
        FAMILY as IVF,
    )
    from irio2024_mapreduce_spark.operators.stored_index import (
        corpus_files,
        read_vectors,
    )

    m_ann, m_ivf = read_ann_manifest(ann), read_ivf_manifest(ivf)
    ann_ids = {
        r["neighbor_id"]
        for r in spark.read.parquet(
            *sorted(corpus_files(ANN, ann, m_ann["data"]))
        )
        .select("neighbor_id")
        .collect()
    }
    ivf_ids = {
        r["vec_id"]
        for r in read_vectors(
            IVF, spark, sorted(corpus_files(IVF, ivf, m_ivf["data"]))
        )
        .select("vec_id")
        .collect()
    }
    assert ann_ids == {100, 200, 302} == ivf_ids
    assert m_ann["rows"] == 3 and m_ivf["rows"] == 3

    q = spark.createDataFrame(
        [(0, vec(302))], "vec_id long, v array<double>"
    )
    for probe in (probe_ann_index, probe_ivf_index):
        top = probe(spark, q, ann if probe is probe_ann_index else ivf)
        top1 = top.filter(F.col("rank") == 1).collect()[0]
        assert top1["neighbor_id"] == 302
        assert top1["cosine"] == pytest.approx(1.0, abs=1e-6)


@pytest.mark.slow  # r15: chaos/soak class, off the default gate path
def test_stream_batches_dedup_in_file_order(spark, tmp_path):
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus")
    src = tmp_path / "incoming"
    src.mkdir()

    seed = spark.createDataFrame(
        [(100, T_CORPUS0, "en", "src0", len(T_CORPUS0))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    build_corpus_index(spark, seed, idx)

    # file names order the batches (the file source lists a stable
    # order for a static directory): day1 before day2
    _write_batch(
        src / "day1.parquet",
        [(200, T_FRESH1), (201, T_CORPUS0), (202, None)],
    )
    _write_batch(
        src / "day2.parquet",
        [(300, T_FRESH1), (301, T_NEAR), (302, T_FRESH2)],
    )

    schema = spark.read.parquet(str(src)).schema
    manifests = run_ingest_stream(
        spark, str(src), schema, idx, out, files_per_trigger=1
    )
    assert [m["batch_in"] for m in manifests] == [3, 3]

    day1, day2 = manifests
    assert (day1["exact_dups"], day1["killed_null_text"], day1["appended"]) == (
        1,
        1,
        1,
    )
    # day 2's exact copy and near-dup of day 1's admission are
    # convicted by the index rows day 1's micro-batch appended
    assert (day2["exact_dups"], day2["near_dups"], day2["appended"]) == (
        1,
        1,
        1,
    )

    shipped = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped.collect()} == {200, 302}

    # ---------------- restart / exactly-once (r9) ----------------
    # each processed batch committed exactly one manifest row, keyed
    # by the streaming batch_id (the idempotence marker)
    recorded = spark.read.parquet(f"{idx}/manifests")
    assert recorded.count() == 2
    assert {r["batch_id"] for r in recorded.collect()} == {0, 1}
    stats_rows = spark.read.parquet(f"{idx}/stats").count()
    index_hashes = spark.read.parquet(f"{idx}/hashes").count()

    # rerunning over the same source resumes from the DETERMINISTIC
    # default checkpoint (pre-r9 this re-delivered every file and
    # bloated the index with duplicate hash/posting/stats rows):
    # nothing re-delivers, nothing is appended anywhere
    manifests2 = run_ingest_stream(
        spark, str(src), schema, idx, out, files_per_trigger=1
    )
    assert manifests2 == []
    assert spark.read.parquet(f"{idx}/manifests").count() == 2
    assert spark.read.parquet(f"{idx}/stats").count() == stats_rows
    assert spark.read.parquet(f"{idx}/hashes").count() == index_hashes
    shipped2 = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped2.collect()} == {200, 302}

    # TRUE crash-replay (crash between ingest_batch's appends and the
    # checkpoint commit redelivers the SAME batch id on the SAME
    # stream): simulate by re-invoking the handler's call directly —
    # the recorded (stream, batch_id) manifest short-circuits with
    # zero new rows anywhere
    from irio2024_mapreduce_spark.plans.ingest import ingest_batch
    from irio2024_mapreduce_spark.streaming.ingest_stream import (
        default_checkpoint_dir,
    )

    stream_key = os.path.abspath(default_checkpoint_dir(idx, str(src)))
    day1_df = spark.read.parquet(str(src / "day1.parquet"))
    replay = ingest_batch(
        spark, day1_df, idx, out, batch_id=0, stream=stream_key
    )
    assert replay == {
        k: v for k, v in manifests[0].items() if k != "batch_id"
    }
    assert spark.read.parquet(f"{idx}/manifests").count() == 2
    assert spark.read.parquet(f"{idx}/stats").count() == stats_rows
    assert spark.read.parquet(f"{idx}/hashes").count() == index_hashes

    # a FRESH checkpoint is a NEW stream, not a replay: batch ids are
    # only unique per checkpoint, so its batch 0 must NOT
    # short-circuit against the old stream's recorded batch 0 (that
    # was the silent-drop hazard). The redelivered docs are
    # reprocessed and self-convict against the index — corpus
    # unchanged, nothing admitted — and the new stream records its
    # own manifest rows.
    manifests3 = run_ingest_stream(
        spark,
        str(src),
        schema,
        idx,
        out,
        files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "fresh_ckpt"),
    )
    assert [m["batch_in"] for m in manifests3] == [3, 3]
    assert all(m["appended"] == 0 for m in manifests3)
    # every previously-shipped doc self-convicts as an exact dup
    assert manifests3[0]["exact_dups"] == 2  # 200's copy + 201
    assert spark.read.parquet(f"{idx}/manifests").count() == 4
    assert spark.read.parquet(f"{idx}/hashes").count() == index_hashes
    shipped3 = spark.read.parquet(f"{out}/clean_documents.parquet")
    assert {r["doc_id"] for r in shipped3.collect()} == {200, 302}
