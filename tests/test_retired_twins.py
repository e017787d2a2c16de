"""Retired-twin queries stay correct even though they're deregistered
from the driver contract (the driver grades only the first 50
registry entries — see registry.DRIVER_QUERY_WINDOW).

The pool is read only through the registry: ``retired_queries()``,
with its oracles from ``retired_oracle_sql_for(sf_dir)``. These tests
pin the pool's contract; tests/test_query_battery.py runs every
retired query against its oracle (rows-only for the documented three)
and the plan rules, beside the graded ones.
"""

from __future__ import annotations

from conftest import SF_DIR
from irio2024_mapreduce_spark import registry

RETIRED = registry.retired_queries()
RETIRED_ORACLES = registry.retired_oracle_sql_for(SF_DIR)
ORACLE_CHECKED = sorted(RETIRED_ORACLES)
ROWS_ONLY = sorted(set(RETIRED) - set(RETIRED_ORACLES))


def test_retired_set_is_exactly_the_documented_twins():
    assert set(ORACLE_CHECKED) == {
        # local-oracle extras with no graded twin (the window is full)
        "unpivot_measures",
        "quality_unigram_lm",
        "tfidf_topk_terms",
        "importance_resample",
        "multimodal_audio",
        "boilerplate_chunks",
        # the only DuckDB checks of pipeline building blocks
        "pii_scrub",
        "pack_sequences",
        "source_mix",
        "corpus_split",
        "split_leakage",
        "quality_repetition",
        "quantize_embeddings",
        # the on-the-fly references of the stored-index probes (parity
        # pinned in tests/test_ann_index.py and tests/test_ivf_index.py);
        # similarity_ivf's oracle is a builder (sf_dir -> sql): the
        # injected centroids are data-dependent
        "similarity_ann",
        "similarity_ivf",
        # the only oracle check of the benched SimHash pipeline
        "dedup_simhash_md5",
        # the batch reference of tests/test_streaming.py's parity test
        "event_tumbling",
    }


def test_rows_only_retirees_are_exactly_the_documented_set():
    # no oracle by design; their real verification is elsewhere and
    # runs every test run (sketches: error bounds vs in-row exact twins,
    # tests/test_advanced.py; dedup_simhash / dedup_near: the
    # determinism/recall/precision tests in tests/test_dedup.py, plus
    # their md5-hash-family twins' oracles)
    assert set(ROWS_ONLY) == {"sketches", "dedup_simhash", "dedup_near"}


def test_retired_names_are_not_registered():
    assert not set(RETIRED) & set(registry.queries())


def test_listing_queries_trains_nothing(monkeypatch):
    """Registration never resolves a data-dependent oracle: with the
    IVF quantizer replay broken, both pools still list."""
    from irio2024_mapreduce_spark.operators import similarity

    def boom(*args, **kwargs):
        raise AssertionError("IVF training ran at registration")

    monkeypatch.setattr(similarity, "ivf_centroids_for", boom)
    assert "probe_ivf_index" in registry.queries()
    assert set(registry.retired_queries()) == set(RETIRED)
