"""On-disk format and commit protocol of the stored vector indexes,
shared by the ANN (``ann_index``) and IVF (``ivf_index``) families.

One index dir holds:

* ``_{kind}_manifest.json`` — the format version and the family's
  engine constants (validated on every open), the family's geometry,
  the live data dir's name (``data``) and version (``data_version``),
  the advisory row count, and ``reserved_version``. The manifest is
  replaced atomically; that replace is the commit point of every
  build, append, rewrite and publish.
* ``{data}/`` — the live layout under a versioned name
  (``rows_h8_v3``, ``cells_v3``), partitioned by the family's columns.
  Every locked writer rewrites its ``_filelist.json`` sidecar: the
  data files per partition subdir plus the read schema. Probes resolve
  the partitions they need to concrete files from it and list no
  directory.
* ``{data}.deltas/b={tag}/`` — one dir per ingested batch. A publish
  places the batch's files first and writes the batch's
  ``_filelist.json`` last; that single-file write is the commit. A
  ``b=`` dir without a sidecar is an uncommitted publish, and files a
  sidecar does not list are garbage: every reader ignores both. A
  maintenance fold moves the committed batches into the layout.
* Version swap: a build or rewrite writes version N under a fresh
  name, N = max(data_version, reserved_version) + 1. A lock-free
  rewrite first reserves N in the manifest under the index lock, so a
  concurrent build never writes into the same dirs; the manifest flip
  commits the new version and the old version's dirs are deleted.

No step renames a directory, so the protocol holds on object storage.
The advisory flock on ``{index_dir}`` serializes manifest writers,
layout writers and publishes; ``{index_dir}.rebuild`` serializes the
lock-free rewrites.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.sources.sinks import (
    FILELIST_NAME,
    acquire_compaction_lock,
    acquire_compaction_lock_patiently,
    atomic_write_file,
    consume_fold_crash_flag,
    fsync_dir,
    parquet_files,
    publish_delta_marker,
    read_filelist,
    release_compaction_lock,
    reraise_if_vanished_input,
    run_lockfree_read,
    write_filelist,
)

# Manifests of any other version fail to open ("rebuild it with the
# current constants").
FORMAT_VERSION = 2
DELTAS_SUFFIX = ".deltas"
# maintenance folds the delta area once it holds this many files
FOLD_DELTA_FILES = 64
PROBE_SCHEMA = "query_id long, neighbor_id long, cosine double, rank long"


class Family:
    """What one index family supplies to the shared lifecycle. ``t`` is
    a manifest, or the manifest a write is about to commit."""

    kind = ""  # "ann" / "ivf": manifest, cache and fault-flag names
    build_name = ""  # the family's build function, named in errors
    prefixes: tuple[str, ...] = ()  # names of per-version dirs
    corpus_part = "."  # layout/delta subdir holding one row per vector

    def constants(self) -> dict:
        """Engine constants an index must have been built with."""
        raise NotImplementedError

    def version_dirs(self, m: dict) -> list[str]:
        """The dirs of ``m``'s version, which orphan GC keeps."""
        return [m["data"]]

    def write_version(self, spark, vecs, index_dir, n, t) -> str:
        """Write version ``n`` of ``vecs`` at ``t``'s geometry; returns
        the layout dir name."""
        raise NotImplementedError

    def write_vectors(self, spark, vecs, index_dir, t, mode) -> None:
        """Write ``vecs`` into layout ``t["data"]`` at its geometry."""
        raise NotImplementedError

    def write_delta(self, spark, vecs, index_dir, m, dst, nparts) -> None:
        """Write ``vecs`` in the per-batch delta shape to ``dst``."""
        raise NotImplementedError

    def fold_rows(self, df, n, m) -> tuple[DataFrame, tuple[str, ...]]:
        """Delta rows shaped for the layout append, and its partition
        columns."""
        raise NotImplementedError

    def to_vectors(self, df: DataFrame) -> DataFrame:
        """(vec_id, v) from stored rows."""
        raise NotImplementedError

    def commit_fields(self, index_dir, data) -> dict:
        """Manifest fields measured on a finished version."""
        return {}


def family(kind: str) -> Family:
    """The ``FAMILY`` of ``operators/{kind}_index`` (imported lazily:
    the family modules import this one)."""
    return importlib.import_module(
        f"irio2024_mapreduce_spark.operators.{kind}_index"
    ).FAMILY


# ------------------------------------------------------------- manifest
def manifest_path(fam: Family, index_dir: str) -> str:
    return os.path.join(index_dir, f"_{fam.kind}_manifest.json")


def read_manifest(fam: Family, index_dir: str) -> dict:
    """Load the manifest and validate it against the engine's current
    constants: an index built with others answers with silently wrong
    recall."""
    path = manifest_path(fam, index_dir)
    if not os.path.exists(path):
        raise ValueError(
            f"{index_dir} has no {os.path.basename(path)}: not an "
            f"{fam.kind.upper()} index built by {fam.build_name}"
        )
    with open(path) as f:
        m = json.load(f)
    expected = {"version": FORMAT_VERSION, **fam.constants()}
    bad = sorted(k for k, v in expected.items() if m.get(k) != v)
    if bad:
        detail = ", ".join(
            f"{k}: index has {m.get(k)!r}, engine expects {expected[k]!r}"
            for k in bad
        )
        raise ValueError(
            f"{fam.kind.upper()} index at {index_dir} does not match this "
            f"engine ({detail}) — rebuild it with the current constants"
        )
    return m


def write_manifest(fam: Family, index_dir: str, m: dict) -> None:
    atomic_write_file(manifest_path(fam, index_dir), json.dumps(m, indent=1))


def next_version(fam: Family, index_dir: str) -> int:
    """max(data_version, reserved_version) + 1, from the raw manifest: a
    build must also replace an index whose constants no longer
    validate."""
    path = manifest_path(fam, index_dir)
    if not os.path.exists(path):
        return 1
    with open(path) as f:
        raw = json.load(f)
    return max(
        int(raw.get("data_version", 0)), int(raw.get("reserved_version", 0))
    ) + 1


def gc_orphans(fam: Family, index_dir: str, m: dict) -> None:
    """Delete every version dir (and delta root) other than ``m``'s —
    superseded versions and crashed rewrites' leftovers — and a killed
    writer's ``_temporary`` inside the live layout. Callers hold the
    index lock, which every layout writer holds too."""
    live = set(fam.version_dirs(m))
    for d in os.listdir(index_dir):
        p = os.path.join(index_dir, d)
        if (
            d.startswith(fam.prefixes)
            and d.removesuffix(DELTAS_SUFFIX) not in live
            and os.path.isdir(p)
        ):
            shutil.rmtree(p)
    shutil.rmtree(
        os.path.join(index_dir, m["data"], "_temporary"), ignore_errors=True
    )


@contextmanager
def _index_lock(index_dir: str):
    lock = acquire_compaction_lock_patiently(index_dir)
    try:
        yield
    finally:
        release_compaction_lock(lock)


# ---------------------------------------------------------- file sets
def deltas_root(index_dir: str, data: str) -> str:
    return os.path.join(index_dir, data + DELTAS_SUFFIX)


def committed_batches(index_dir: str, data: str) -> list[tuple[str, dict]]:
    """(batch dir, sidecar) of every committed delta batch."""
    droot = deltas_root(index_dir, data)
    if not os.path.isdir(droot):
        return []
    out = []
    for b in sorted(os.listdir(droot)):
        if b.startswith("b="):
            side = read_filelist(os.path.join(droot, b))
            if side is not None:
                out.append((os.path.join(droot, b), side))
    return out


def _listed(bdir: str, side: dict, rels) -> list[str]:
    files = side.get("files", {})
    return [
        os.path.normpath(os.path.join(bdir, rel, f))
        for rel in rels
        for f in files.get(rel, ())
    ]


def delta_files(index_dir: str, data: str, part: str | None = None) -> set[str]:
    """Files of the committed delta batches (optionally of one partition
    subdir), exactly as their sidecars list them. There is no exists
    check: a listed file that vanished must fail a read loudly, not
    silently shrink a rewrite's snapshot."""
    return {
        f
        for bdir, side in committed_batches(index_dir, data)
        for f in _listed(
            bdir, side, side.get("files", {}) if part is None else [part]
        )
    }


def corpus_files(fam: Family, index_dir: str, data: str) -> set[str]:
    """Every committed file of version ``data`` that holds one row per
    vector: the layout's ``corpus_part`` plus the delta area's. The
    snapshot unit of a rewrite and of the footer recount."""
    layout = os.path.normpath(os.path.join(index_dir, data, fam.corpus_part))
    return set(parquet_files(layout)) | delta_files(
        index_dir, data, fam.corpus_part
    )


def footer_rows(files, missing_ok: bool = False) -> int:
    """Rows of a file set, from parquet footers alone. ``missing_ok``
    counts a file deleted since the listing (a concurrent fold) as
    empty, for lock-free heuristics."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except FileNotFoundError:
            if not missing_ok:
                raise
    return total


def read_vectors(fam: Family, spark: SparkSession, files) -> DataFrame:
    """(vec_id, v) from an explicit file list. Layout and delta files
    have different physical schemas (a delta keeps the layout's
    partition columns as data columns), so each subset is read on its
    own and projected before the union."""
    subsets = [
        sorted(f for f in files if (DELTAS_SUFFIX + os.sep in f) == is_delta)
        for is_delta in (False, True)
    ]
    parts = [fam.to_vectors(spark.read.parquet(*s)) for s in subsets if s]
    return reduce(DataFrame.unionByName, parts)


# ------------------------------------------------------ build / append
def build(
    fam: Family, spark: SparkSession, emb: DataFrame, index_dir: str,
    fields: dict,
) -> dict:
    """Write a new version of ``emb`` with manifest ``fields`` (geometry
    and row count) under the index lock and commit it. Returns the
    manifest."""
    os.makedirs(index_dir, exist_ok=True)
    lock = acquire_compaction_lock(index_dir)
    try:
        n = next_version(fam, index_dir)
        data = fam.write_version(spark, emb, index_dir, n, fields)
        write_filelist(spark, os.path.join(index_dir, data))
        m = {
            "version": FORMAT_VERSION, **fam.constants(), **fields,
            "data": data, "data_version": n,
            **fam.commit_fields(index_dir, data),
        }
        write_manifest(fam, index_dir, m)  # the commit point
        gc_orphans(fam, index_dir, m)
        return m
    finally:
        release_compaction_lock(lock)


def append(
    fam: Family, spark: SparkSession, emb: DataFrame, index_dir: str,
    n: int,
) -> int:
    """Append ``n`` (already counted) vectors into the live layout at its
    stored geometry. The index lock is held for the whole write: a
    rewrite flipping mid-append would delete the appended rows with the
    old version."""
    with _index_lock(index_dir):
        m = read_manifest(fam, index_dir)
        fam.write_vectors(spark, emb, index_dir, m, "append")
        # sidecar before the count bump: a crash between them leaves
        # physical != manifest, which the maintenance recount trips on
        write_filelist(spark, os.path.join(index_dir, m["data"]))
        write_manifest(fam, index_dir, {**m, "rows": m["rows"] + n})
    return n


# ---------------------------------------------------- ingest deltas
def stage_delta(
    fam: Family, spark: SparkSession, vecs: DataFrame, index_dir: str,
    m: dict, dst: str, nparts: int,
) -> None:
    """Stage one batch's vectors at manifest ``m``'s geometry, with the
    sidecar that will commit them."""
    fam.write_delta(spark, vecs, index_dir, m, dst, nparts)
    write_filelist(spark, dst)


def publish_delta(staged_dir: str, ex: dict, acquire) -> None:
    """Publish one staged batch (``ex``: its publish-plan entry) under
    the index lock taken with ``acquire``. If the live version is still
    the one the batch was staged against, the batch is committed into
    its ``b=`` dir. Otherwise a rewrite committed in between: the staged
    vectors are re-shaped at the current geometry and appended to the
    layout; a crash there re-appends on the next roll-forward, which
    probes absorb (one row per vector) and the next rewrite compacts.

    The staged dir is removed before the advisory count bump, so a
    re-entry returns early and never bumps twice; a crash between the
    two leaves the count low, which the maintenance recount detects."""
    if not os.path.isdir(staged_dir):
        return  # published by an earlier attempt
    fam, root = family(ex["kind"]), ex["root"]
    lock = acquire(root)
    try:
        m = read_manifest(fam, root)
        if m["data"] == ex["data"]:
            droot = deltas_root(root, m["data"])
            os.makedirs(droot, exist_ok=True)
            publish_delta_marker(staged_dir, os.path.join(droot, ex["delta"]))
            fsync_dir(droot)
        else:
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    f"roll-forward of {ex['kind']} index {root} needs to "
                    "re-shape staged rows (the index was rewritten in the "
                    "crash window) but no SparkSession is active"
                )
            staged = os.path.normpath(os.path.join(staged_dir, fam.corpus_part))
            vecs = read_vectors(fam, spark, list(parquet_files(staged)))
            fam.write_vectors(spark, vecs, root, m, "append")
            write_filelist(spark, os.path.join(root, m["data"]))
        shutil.rmtree(staged_dir, ignore_errors=True)
        write_manifest(fam, root, {**m, "rows": m["rows"] + int(ex["rows"])})
    finally:
        release_compaction_lock(lock)


def fold(fam: Family, spark: SparkSession, index_dir: str) -> dict:
    """Move every committed delta batch into the live layout with one
    partitioned append, then drop the batch dirs, under the index lock
    (publishes take it too). The cost is the delta mass, not the
    corpus. A crash between the append and the drops leaves rows in
    both places; probes keep one row per vector and the next rewrite
    compacts them."""
    with _index_lock(index_dir):
        m = read_manifest(fam, index_dir)
        droot = deltas_root(index_dir, m["data"])
        files = delta_files(index_dir, m["data"])
        if not files:
            return {"folded": 0, "batches": 0}
        # every b= dir seen under the lock is committed or a crashed
        # publish whose roll-forward re-places it
        batches = [d for d in os.listdir(droot) if d.startswith("b=")]
        df = spark.read.option("basePath", droot).parquet(*sorted(files))
        n = df.count()
        rows, cols = fam.fold_rows(df, n, m)
        data_dir = os.path.join(index_dir, m["data"])
        shutil.rmtree(os.path.join(data_dir, "_temporary"), ignore_errors=True)
        rows.write.mode("append").partitionBy(*cols).parquet(data_dir)
        # sidecar before the drops: until then the folded rows stay
        # visible through the delta sidecars
        write_filelist(spark, data_dir)
        consume_fold_crash_flag(fam.kind)
        for b in batches:
            shutil.rmtree(os.path.join(droot, b), ignore_errors=True)
        return {"folded": n, "batches": len(batches)}


def fold_and_recount(
    fam: Family, spark: SparkSession, index_dir: str, deep: bool
) -> tuple[dict, dict, int]:
    """Maintenance trip-wire inputs: fold the committed deltas once they
    reach FOLD_DELTA_FILES files (always on ``deep`` passes), then count
    the committed vectors from footers alone. Returns (manifest, fold
    report, physical rows)."""
    m = read_manifest(fam, index_dir)
    folded = {"folded": 0, "batches": 0}
    n_files = len(delta_files(index_dir, m["data"]))
    if n_files and (deep or n_files >= FOLD_DELTA_FILES):
        folded = fold(fam, spark, index_dir)
    physical = footer_rows(
        corpus_files(fam, index_dir, m["data"]), missing_ok=True
    )
    return m, folded, physical


# --------------------------------------------------------------- probe
def _read(spark: SparkSession, base: str, side: dict, paths: list[str]):
    from pyspark.sql.types import StructType  # noqa: PLC0415

    reader = spark.read.option("basePath", base)
    if side.get("schema"):
        reader = reader.schema(StructType.fromJson(json.loads(side["schema"])))
    return reader.parquet(*paths)


def probe(
    fam: Family, spark: SparkSession, queries: DataFrame, index_dir: str,
    plan,
) -> DataFrame:
    """Answer ``queries`` (``vec_id``, ``v``) by point reads.
    ``plan(m, q_rows)`` returns the layout partition subdirs to read,
    the delta partition subdirs to read, a row projection/filter and a
    scorer. Paths come from the sidecars, so no directory is listed.

    The resolve+read runs in ``run_lockfree_read``, and the batch-sized
    delta rows are pinned eagerly: a fold dropping them mid-probe costs
    one fresh retry or raises the documented retryable. Folds never
    remove layout files, so the layout file set stays complete."""
    # the query side is driver-bounded: its probe list is collected to
    # build the path list anyway
    q_rows = [
        (r["vec_id"], list(r["v"]))
        for r in queries.select("vec_id", "v").collect()
    ]
    # above this many paths Spark lists them with a cluster job
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", "2048"
    )

    def attempt() -> DataFrame:
        m = read_manifest(fam, index_dir)
        layout_rels, delta_rels, project, score = plan(m, q_rows)
        data_dir = os.path.join(index_dir, m["data"])
        side = read_filelist(data_dir)
        if side is None:  # a version swap deleted it: retry afresh
            raise FileNotFoundError(
                f"No such file or directory: {data_dir}/{FILELIST_NAME}"
            )
        parts = []
        paths = _listed(data_dir, side, layout_rels)
        if paths:
            parts.append(project(_read(spark, data_dir, side, paths)))
        deltas = [
            project(_read(spark, bdir, bside, bpaths))
            for bdir, bside in committed_batches(index_dir, m["data"])
            if (bpaths := _listed(bdir, bside, delta_rels))
        ]
        if deltas:
            # one job pins every batch's rows
            parts.append(
                reduce(DataFrame.unionByName, deltas).localCheckpoint(
                    eager=True
                )
            )
        if not parts:
            return spark.createDataFrame([], PROBE_SCHEMA)
        return score(reduce(DataFrame.unionByName, parts))

    return run_lockfree_read(index_dir, attempt)


# ------------------------------------------------------------- rewrite
def rewrite(fam: Family, spark: SparkSession, index_dir: str, decide) -> dict:
    """Maintenance rewrite (ANN resize, IVF rebuild) without blocking
    ingest. Under the ``.rebuild`` guard only: snapshot the committed
    vectors, collapse duplicate ``vec_id`` rows, and ask
    ``decide(m, rows, physical)`` for the target geometry and whether a
    rewrite is needed. If not, true up the advisory fields under the
    lock. If so: reserve version N under the lock, write it lock-free,
    then under the lock catch up the vectors committed since the
    snapshot at the new geometry and flip the manifest. The lock hold
    scales with ingest rate × rewrite time, not with the corpus. A
    catch-up row duplicating a snapshot row stays until the next deep
    pass; probes keep one row per vector. A build that replaced the
    index meanwhile supersedes the rewrite, which then abandons.

    Lock-free reads can fail raw when files vanish beneath them (a
    racing build's GC); such failures are raised as the documented
    retryable."""
    try:
        return _rewrite_locked(fam, spark, index_dir, decide)
    except RuntimeError:
        raise  # already classified (incl. LockPatienceExhausted)
    except Exception as e:
        reraise_if_vanished_input(e, index_dir)
        raise


def _rewrite_locked(fam, spark, index_dir, decide) -> dict:
    guard = acquire_compaction_lock_patiently(index_dir + ".rebuild")
    try:
        m = read_manifest(fam, index_dir)
        out = {
            "before": m, "after": m, "rewritten": False, "rows": 0,
            "delta_rows": 0, "dups_removed": 0,
        }
        snapshot = corpus_files(fam, index_dir, m["data"])
        if not snapshot:
            return out  # empty index: nothing to rewrite
        raw = read_vectors(fam, spark, snapshot)
        # physical vs distinct is the duplicate signal; the advisory
        # count can equal the distinct count with copies on disk
        physical = raw.count()
        vecs = raw.dropDuplicates(["vec_id"]).localCheckpoint(eager=True)
        rows = vecs.count()
        geom, needed = decide(m, rows, physical)

        def superseded(cur: dict) -> dict:
            return {**out, "after": cur, "superseded": True, "rows": cur["rows"]}

        if not needed:
            with _index_lock(index_dir):
                cur = read_manifest(fam, index_dir)
                if cur["data"] != m["data"]:
                    return superseded(cur)
                late = corpus_files(fam, index_dir, m["data"]) - snapshot
                cur = {**cur, **geom, "rows": rows + footer_rows(late)}
                write_manifest(fam, index_dir, cur)
                # guard and lock held: no rewrite is writing, so any
                # other version dir is a crashed rewrite's leftover
                gc_orphans(fam, index_dir, cur)
            return {**out, "after": cur, "rows": cur["rows"]}
        with _index_lock(index_dir):
            cur = read_manifest(fam, index_dir)
            if cur["data"] != m["data"]:
                return superseded(cur)
            n = next_version(fam, index_dir)
            write_manifest(fam, index_dir, {**cur, "reserved_version": n})
        data = fam.write_version(spark, vecs, index_dir, n, {**m, **geom})
        with _index_lock(index_dir):
            cur = read_manifest(fam, index_dir)
            if cur["data"] != m["data"]:
                return superseded(cur)  # the written dirs become orphans
            new = {**cur, **geom, "data": data, "data_version": n}
            late = corpus_files(fam, index_dir, m["data"]) - snapshot
            late_n = 0
            if late:
                late_vecs = read_vectors(fam, spark, late)
                late_n = late_vecs.count()
                fam.write_vectors(spark, late_vecs, index_dir, new, "append")
            write_filelist(spark, os.path.join(index_dir, data))
            new = {
                **new, "rows": rows + late_n,
                **fam.commit_fields(index_dir, data),
            }
            write_manifest(fam, index_dir, new)  # the commit point
            gc_orphans(fam, index_dir, new)
        return {
            **out, "after": new, "rewritten": True, "rows": rows + late_n,
            "delta_rows": late_n, "dups_removed": physical - rows,
        }
    finally:
        release_compaction_lock(guard)


# ------------------------------------------------------ graded fixture
def fixture_probe(
    fam: Family, spark: SparkSession, sf_dir: str, fresh, build_fn,
    probe_fn, log: list[float],
) -> DataFrame:
    """The graded stored-index path: build the index over the
    embeddings corpus (``vec_id >= N_QUERIES``) once per (sf_dir, row
    count), cached under the system temp dir behind a lock, then answer
    the N_QUERIES query vectors with ``probe_fn``. ``fresh(m)`` says
    whether a cached manifest has the graded geometry. The build phase
    (lock wait, cache check, build) is timed into ``log``, so the bench
    can report the probe apart from it."""
    from irio2024_mapreduce_spark.operators.similarity import (  # noqa: PLC0415
        N_QUERIES,
        _as_double,
    )
    from irio2024_mapreduce_spark.sources.tables import (  # noqa: PLC0415
        load_table_parallel,
    )

    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    t0 = time.perf_counter()
    src = os.path.join(sf_dir, "embeddings.parquet")
    n_total = footer_rows([src] if os.path.isfile(src) else parquet_files(src))
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    idx = os.path.join(
        tempfile.gettempdir(), "spark_graft_fixtures",
        f"{fam.kind}_{tag}_{n_total}",
    )
    os.makedirs(idx, exist_ok=True)
    # a sibling guard: the build takes the index dir's own lock, and
    # flock conflicts across fds within one process too
    guard = acquire_compaction_lock_patiently(
        idx + ".build", attempts=240, wait=0.5
    )
    try:
        try:
            m = read_manifest(fam, idx)
            need = not (
                fresh(m)
                and m["rows"] == n_total - N_QUERIES
                and read_filelist(os.path.join(idx, m["data"])) is not None
            )
        except ValueError:
            need = True
        if need:
            build_fn(spark, emb.filter(F.col("vec_id") >= N_QUERIES), idx)
    finally:
        release_compaction_lock(guard)
    log.append(time.perf_counter() - t0)
    return probe_fn(spark, emb.filter(F.col("vec_id") < N_QUERIES), idx)
