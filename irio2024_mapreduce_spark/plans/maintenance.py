"""One maintenance entry point with thresholds.

The repo has four maintenance passes — ``compact_corpus_index``
(dedup-index small files + crash-replay dups + cross-append bucket
caps), fused ``compact_parquet(zorder_cols=...)`` (corpus small files
+ z-order decay in ONE rewrite), ``resize_ann_index`` (signature
width vs corpus size) and ``rebuild_ivf_index`` (k ≈ √rows re-train),
plus the deep-only corpus duplicate reconciliation.
:func:`maintain_corpus_index` decides WHEN to run which: it reads the
stats/layout each pass already exposes, runs — in dependency order,
under each pass's own existing lock — exactly the passes whose
thresholds tripped, and returns a per-pass report (ran / skipped +
the measured signal), so one scheduled call restores every invariant
and an idle corpus costs only the threshold probes.

Threshold rationale (each calibrated by a measured artifact):

* file-count fragmentation — an append-grown dataset of f tiny files
  costs every reader f opens/tasks; trip when a part holds more than
  ``max_files_per_part`` parquet files OR more than ``frag_ratio`` ×
  its byte-ideal count (``ceil(bytes / target_file_bytes)``). The
  z-order decay measurement (SCALE.md, "fused
  compact+z-order": skip fraction 0.906 → 0.784 over five appended
  file sets → 0.908 after ONE fused pass) calibrates the default: five file sets per
  partition is where the decay became measurable, so the fused
  corpus pass uses the same file-count trip wire — appends are
  simultaneously what fragments the file set and what erodes the
  clustering, one signal covers both;
* ANN width drift — ``target_bits`` (H = log2(rows/bucket_target),
  the stored index's own sizing rule) re-derived at the CURRENT
  physical row count differing from the manifest's bits is exactly a
  >2× rows-per-bucket drift (the rule rounds log2, so ±1 bit ≡ 2×);
  a physical-vs-manifest row-count mismatch (duplicate appends from
  a crash-replayed roll-forward) trips the same pass — the rewrite
  IS the index's dedup compaction;
* IVF k drift — ``target_cells`` (k ≈ √rows) at the current physical
  count off by ≥ ``size_drift`` (default 2×) from the manifest's
  k_cells; smaller drifts leave nprobe/k within a factor the probe
  cost tolerates, and the 2× hysteresis keeps the pass from
  re-training on every append. Two further footer-level signals trip
  the same pass: physical rows != the advisory manifest count
  (crash-replay duplicates / a lost advisory bump — the rebuild IS
  the IVF dedup compaction), and hot-cell imbalance (current p99/mean
  cell rows > ``imbalance_ratio`` × the manifest's
  ``trained_imbalance`` baseline, floored at ``imbalance_min_rows``
  p99 rows), which FORCES a same-k re-train because stale centroids,
  not k, are what degrade probe selectivity.

Reference parity note: the reference schedules ALL steps of a job to
completion (/root/reference/mapreduce/coordinator/update_loop.py:149-154);
this module is the analogous completeness guarantee for the engine's
MAINTENANCE obligations — one call, every invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from irio2024_mapreduce_spark.operators.stored_index import fold_and_recount
from irio2024_mapreduce_spark.sources.sinks import parquet_files

# the index parts compact_corpus_index rewrites — file counts over
# these are the fragmentation signal
_INDEX_PARTS = (
    "hashes",
    "postings",
    "bands",
    "rep_shingles",
    "stats",
    "benchmark_ngrams",
)


def _frag_signal(
    path: str, target_file_bytes: int
) -> tuple[int, int, int]:
    """(files, ideal_files, bytes) for one dataset dir. Lock-free by
    design (the decision pass reads before taking any lock), so a file
    deleted between the walk and the stat — a concurrent compaction
    swap or generation flip — is skipped, not fatal: the signal is a
    heuristic the locked rewrite re-derives anyway."""
    total = 0
    n = 0
    for f in parquet_files(path):
        try:
            total += os.path.getsize(f)
        except FileNotFoundError:
            continue
        n += 1
    ideal = max(1, -(-total // target_file_bytes))
    return n, ideal, total


def maintain_corpus_index(
    spark: SparkSession,
    index_dir: str | None = None,
    corpus_path: str | None = None,
    partition_by: list[str] | None = None,
    zorder_cols: list[str] | None = None,
    ann_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
    max_files_per_part: int = 64,
    frag_ratio: float = 4.0,
    size_drift: float = 2.0,
    imbalance_ratio: float = 3.0,
    imbalance_min_rows: int = 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    deep: bool = False,
) -> dict[str, dict]:
    """Run every tripped maintenance pass over the given artifacts, in
    dependency order: crashed-generation roll-forward → corpus
    duplicate reconciliation (deep only — the multi-writer race /
    replay convergence pass) → dedup-index compaction → corpus
    compaction with fused z-order → ANN resize → IVF rebuild. Each
    sub-pass takes its own advisory lock exactly as when called
    directly; a pass whose threshold isn't tripped is SKIPPED and says
    why. Idempotent: a second call
    right after finds nothing tripped. Returns
    ``{pass_name: {"ran": bool, "reason": str, ...pass_result}}``.

    The ANN/IVF passes FOLD ingest's per-batch delta dirs into the
    two-level/cell layouts before reading their footer signals (ingest
    publishes similarity-index parts as cheap per-batch deltas; the
    fold pays the partitioned write once per window) — tripped by
    delta file count, unconditional on deep passes.

    ``deep=True`` additionally runs the ANN/IVF passes' own SCAN-level
    duplicate checks (physical vs distinct ``vec_id``) even when every
    footer signal is clean. The one duplicate shape footers cannot
    see: a vector published twice by two SUCCESSFUL publishes — e.g.
    batches redelivered after a ``prepare_corpus`` generation flip,
    which supersedes the corpus + dedup index but leaves the
    similarity indexes holding the previous generation's appends —
    where the advisory count was legitimately bumped both times, so
    physical == manifest with duplicates on disk. Probes stay correct
    throughout (keep-one on ``vec_id``); ``deep`` is the documented
    post-regeneration reindex step that trues the physical state up.
    Cost: one vec_id-column scan per index; keep the DEFAULT pass
    footer-only."""
    report: dict[str, dict] = {}

    if corpus_path:
        # finish any crashed prepare_corpus generation flip FIRST —
        # before the index passes, not inside the corpus pass: the
        # flip may replace the index wholesale, and compacting the
        # superseded generation first would pay a full rewrite the
        # flip is about to discard. (abspath normpath-strips trailing
        # slashes, so dirname reliably yields the prep out_dir.)
        from irio2024_mapreduce_spark.plans.corpus_prep import (  # noqa: PLC0415
            recover_prepared,
        )

        recover_prepared(os.path.dirname(os.path.abspath(corpus_path)))
    if corpus_path and index_dir:
        report["corpus_reconcile"] = _maybe_reconcile_dups(
            spark, index_dir, corpus_path, deep
        )
    if index_dir:
        report["index_compaction"] = _maybe_compact_index(
            spark, index_dir, max_files_per_part, frag_ratio,
            target_file_bytes,
        )
    if corpus_path:
        report["corpus_compaction"] = _maybe_compact_corpus(
            spark, corpus_path, partition_by, zorder_cols,
            max_files_per_part, frag_ratio, target_file_bytes,
        )
    if ann_index_dir:
        report["ann_resize"] = _maybe_resize_ann(
            spark, ann_index_dir, deep=deep
        )
    if ivf_index_dir:
        report["ivf_rebuild"] = _maybe_rebuild_ivf(
            spark, ivf_index_dir, size_drift,
            imbalance_ratio=imbalance_ratio,
            imbalance_min_rows=imbalance_min_rows,
            deep=deep,
        )
    return report


def _maybe_reconcile_dups(spark, index_dir, corpus_path, deep) -> dict:
    """Deep-only: the late-duplicate reconciliation (see
    :func:`plans.ingest.reconcile_corpus_duplicates`) needs a
    content-level corpus scan, which footers cannot gate — the shapes
    it fixes (two concurrent same-text ingests both admitting; a
    census drifted by a crash between a corpus rewrite and its stats
    correction) are invisible to metadata. Runs at the quiesced deep
    pass, the documented post-chaos/post-regeneration step."""
    if not deep:
        return {
            "ran": False,
            "reason": "content-level duplicate scan is deep-only",
        }
    from irio2024_mapreduce_spark.plans.ingest import (  # noqa: PLC0415
        reconcile_corpus_duplicates,
    )

    return reconcile_corpus_duplicates(spark, index_dir, corpus_path)


def _maybe_compact_index(
    spark, index_dir, max_files, frag_ratio, target_bytes
) -> dict:
    from irio2024_mapreduce_spark.plans.ingest import (  # noqa: PLC0415
        compact_corpus_index,
    )

    for part in _INDEX_PARTS:
        p = os.path.join(index_dir, part)
        if not os.path.isdir(p):
            continue
        n, ideal, _ = _frag_signal(p, target_bytes)
        if n > max_files or n > frag_ratio * ideal:
            out = compact_corpus_index(
                spark, index_dir, target_file_bytes=target_bytes
            )
            return {
                "ran": True,
                "reason": f"part {part}: {n} files vs ideal {ideal}",
                "parts": out,
            }
    return {
        "ran": False,
        "reason": f"no part over {max_files} files or {frag_ratio}x ideal",
    }


def _maybe_compact_corpus(
    spark, corpus_path, partition_by, zorder_cols, max_files,
    frag_ratio, target_bytes,
) -> dict:
    from irio2024_mapreduce_spark.sources.sinks import (  # noqa: PLC0415
        compact_parquet,
    )

    if not os.path.isdir(corpus_path):
        return {"ran": False, "reason": f"{corpus_path} does not exist"}
    n, ideal, _ = _frag_signal(corpus_path, target_bytes)
    if n <= max_files and n <= frag_ratio * ideal:
        return {
            "ran": False,
            "reason": (
                f"{n} files within {max_files} and {frag_ratio}x "
                f"ideal ({ideal}) — clustering decay rides the same "
                "append count (see module docstring calibration)"
            ),
        }
    out = compact_parquet(
        spark,
        corpus_path,
        target_file_bytes=target_bytes,
        partition_by=partition_by,
        zorder_cols=zorder_cols,
    )
    return {"ran": True, "reason": f"{n} files vs ideal {ideal}", **out}


def _maybe_resize_ann(spark, ann_index_dir, deep: bool = False) -> dict:
    from irio2024_mapreduce_spark.operators.ann_index import (  # noqa: PLC0415
        FAMILY,
        resize_ann_index,
        target_bits,
    )

    # physical rows: the committed vectors, from parquet footers only
    m, fold, physical = fold_and_recount(FAMILY, spark, ann_index_dir, deep)
    want = target_bits(physical, m["bucket_target"])
    if want == m["bits"] and physical == m["rows"]:
        if deep:
            return _deep_rewrite(resize_ann_index(spark, ann_index_dir), fold)
        return {
            "ran": bool(fold["folded"]),
            "reason": (
                f"bits {m['bits']} == target at {physical} rows; "
                "no duplicate appends (physical == manifest count)"
            ),
            "delta_fold": fold,
        }
    reason = (
        f"target bits {want} != stored {m['bits']} at {physical} rows"
        if want != m["bits"]
        else f"physical {physical} != manifest {m['rows']} (dups)"
    )
    out = resize_ann_index(spark, ann_index_dir)
    return {"ran": True, "reason": reason, "delta_fold": fold, **out}


def _deep_rewrite(out: dict, fold: dict) -> dict:
    """Report of a deep pass's scan-level check: the rewrite collapses
    duplicates footers cannot see (physical == manifest with copies on
    disk, the post-generation-flip redelivery shape)."""
    return {
        "ran": bool(out["rewritten"] or fold["folded"]),
        "reason": "deep scan-level duplicate check",
        "delta_fold": fold,
        **out,
    }


def _maybe_rebuild_ivf(
    spark,
    ivf_index_dir,
    size_drift,
    imbalance_ratio: float = 3.0,
    imbalance_min_rows: int = 1024,
    deep: bool = False,
) -> dict:
    """Three trip wires, all measured from parquet FOOTERS (an idle
    index pays only metadata reads):

    * k drift ≥ ``size_drift`` — the original signal;
    * physical rows != the manifest's advisory count — crash-replay
      duplicates, or an advisory bump lost in the publish path's
      rmtree→bump window (k drift alone would leave both in place
      while k stays within 2×);
    * hot cells — current p99/mean cell rows > ``imbalance_ratio`` ×
      the imbalance the training itself produced (the manifest's
      ``trained_imbalance``; RELATIVE, so natural cluster skew baked
      in at train time never re-trips a re-train that cannot improve
      it), floored at ``imbalance_min_rows`` p99 rows so tiny indexes
      never trip. Appends assigned at stale centroids pile into few
      cells, degrading probe selectivity while k ≈ √rows stays
      satisfied — so this rebuild is FORCED (same-k re-train
      rebalances).
    """
    from irio2024_mapreduce_spark.operators.ivf_index import (  # noqa: PLC0415
        FAMILY,
        footer_cell_counts,
        rebuild_ivf_index,
        target_cells,
    )

    m, fold, physical = fold_and_recount(FAMILY, spark, ivf_index_dir, deep)
    cell_counts = footer_cell_counts(os.path.join(ivf_index_dir, m["data"]))
    want = target_cells(physical)
    k = m["k_cells"]
    drift = max(want, k) / max(min(want, k), 1)
    import math  # noqa: PLC0415

    counts = sorted(cell_counts.values())
    mean = physical / max(len(counts), 1)
    # ceil: the p99 of a small cell set is its max (see footer_imbalance)
    p99 = counts[math.ceil(0.99 * (len(counts) - 1))] if counts else 0
    cur_imb = p99 / mean if mean else 1.0
    base_imb = float(m.get("trained_imbalance", 1.0))
    force = False
    if drift >= size_drift:
        reason = (
            f"target k {want} vs stored {k} (drift {round(drift, 2)})"
        )
    elif physical != m["rows"]:
        reason = (
            f"physical {physical} != manifest {m['rows']} (crash-replay "
            "duplicates or a lost advisory bump)"
        )
    elif p99 >= imbalance_min_rows and cur_imb > imbalance_ratio * base_imb:
        reason = (
            f"hot cells: p99/mean {round(cur_imb, 2)} > "
            f"{imbalance_ratio}x trained {round(base_imb, 2)} — appends "
            "drifted from stored centroids"
        )
        force = True
    else:
        if deep:
            return _deep_rewrite(rebuild_ivf_index(spark, ivf_index_dir), fold)
        return {
            "ran": bool(fold["folded"]),
            "reason": (
                f"k {k} within {size_drift}x of target {want} at "
                f"{physical} rows (drift {round(drift, 2)}); physical "
                f"== manifest; p99/mean {round(cur_imb, 2)} within "
                f"{imbalance_ratio}x trained {round(base_imb, 2)}"
            ),
            "delta_fold": fold,
        }
    out = rebuild_ivf_index(spark, ivf_index_dir, force=force)
    return {"ran": True, "reason": reason, "delta_fold": fold, **out}
