"""Similarity search over embeddings — SURVEY.md §2.3 E23.

Two paths:

* **similarity_topk** — exact brute-force cosine top-k. The query set
  is tiny and explicitly broadcast, so the corpus is scanned once,
  map-side, with NO shuffle of the corpus: the only exchange is the
  per-query top-k (a window over candidate rows, k·|queries| rows).
  All arithmetic in double via codegen'd higher-order functions
  (``zip_with`` + ``aggregate``) — no UDF, no Python.
* **similarity_ann** — the 100 TB path: random-hyperplane LSH.
  Corpus vectors are bucketed by an H-bit signature (H deterministic
  pseudo-random hyperplanes: splitmix64-derived float constants, so
  the "random" planes are cluster-reproducible AND injectable into
  the DuckDB oracle verbatim, so it has a full oracle row); queries
  probe their own bucket plus multi-probe flips. Recall vs the exact
  path is asserted in tests. The IVF variant swaps the signature for
  a k-means assignment — same plan shape (bucket equi-join),
  different bucketing function. It has a full oracle row too: the
  Lloyd fixpoint is deterministic, so the trained centroids are constants
  of (data, code) — ``ivf_centroids_for`` replays the training
  outside Spark (bit-exact pure-Python xxh64 sample selection + the
  same ``_train_rows`` numpy loop) and ``ivf_oracle_for`` injects
  them into the DuckDB SQL, the same constant-injection recipe as
  similarity_ann's hyperplanes.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from irio2024_mapreduce_spark.sources.tables import load_table_parallel

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
ANN_PLANES = 8
EMB_DIM = 64


def _as_double(col: str = "embedding") -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def count_with_dim_check(df: "DataFrame", what: str) -> int:
    """Row count of a ``(vec_id, v)`` frame that simultaneously
    verifies EVERY vector is exactly EMB_DIM wide (NULL counts as
    wrong). Every signature/assignment expression indexes
    ``v[0..EMB_DIM-1]``: a SHORTER (or NULL) vector dies deep in the
    expression tree with a cryptic out-of-bounds error, and a LONGER
    one silently signs or assigns on an EMB_DIM-prefix — corrupted
    index rows that probe wrong forever. Both become one loud driver
    error BEFORE any index write ships the vector.

    Deliberately an aggregate over the count the write paths already
    run, not a per-row ``when/raise_error`` guard in the projection:
    ``raise_error`` drops the whole stage out of codegen and measured
    +0.7-2 s on a 4k-doc ingest batch, while this check rides the
    existing count job for free."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.coalesce(F.size("v"), F.lit(-1)) != EMB_DIM).cast("int")
        ).alias("bad"),
    ).collect()[0]
    bad = int(row["bad"] or 0)
    if bad:
        raise ValueError(
            f"vector dimension gate: {bad} of {int(row['n'])} {what} "
            f"vectors are not exactly {EMB_DIM} dims (NULL counts as "
            "wrong) — nothing was written; fix the producer's "
            "embedding column and retry"
        )
    return int(row["n"])


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`_dot`: the Column form costs
    ~15 py4j round-trips per call (zip_with + two lambda conversions +
    arithmetic), and the signature/score builders call it hundreds of
    times per plan — profiling showed >1.5 s of a similarity_ann build
    spent in socket round-trips alone. One f-string parses JVM-side
    into the IDENTICAL expression tree (``0.0D`` is the same double
    literal ``F.lit(0.0)`` mints), the same move as
    :func:`_planes_matrix`'s array literal."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`_cosine` — same tree, one parse."""
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * "
        f"sqrt({_dot_sql(b, b)})))"
    )


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 corpus neighbors for each query vector.

    The rank-filter window is NOT a corpus-sized buffer: Spark
    rewrites ``row_number ≤ k`` into Partial+Final ``WindowGroupLimit``
    — every map task keeps only its local per-query top-k BEFORE the
    shuffle, so the final window sees ≤ k × map-partitions rows (the
    per-group analog of TakeOrderedAndProject; plan-pinned in
    tests/test_plans.py)."""
    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplane_values(plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1],
    derived from a fixed public mixer (splitmix64) over (plane, dim) —
    plain Python floats folded into ARRAY LITERALS, so the whole
    plane contributes one constant node to the plan instead of 64
    hash expressions (a 512-node signature tree measurably dominated
    this query's runtime via plan/codegen cost)."""

    def mix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return x ^ (x >> 31)

    return [
        (mix(plane * 1_000_003 + d) / float(2**63)) - 1.0
        for d in range(EMB_DIM)
    ]


ANN_TABLES = 4  # independent hash tables (fresh planes per table)
# multi-probe: flip the lowest-|projection| bits (singles + pairs) —
# 6 bits = 1+6+15 = 22 probes of the 256 buckets per table (8.6%;
# candidate union over 4 tables stays well under a third of the
# corpus). Measured recall@top-5 vs the exact ranking at sf0.1:
# 0.54 / 0.62 / 0.70 for 4/5/6 probe bits at flat wall time — the
# candidate join, not probe count, is the cost driver at this scale.
ANN_PROBE_BITS = 6

# Recall of hyperplane LSH is governed by per-plane agreement
# p = 1 − θ/π: with L tables and multi-probe over the ANN_PROBE_BITS
# least-confident planes (singles + pairs), a true neighbor is found
# with 1−(1−t)^L where t ≈ P(≤2 sign mismatches, all at probed
# planes). On clustered data (neighbor cosine ≥ 0.9, p ≈ 0.86) that
# is ≥ 0.95; on unclustered data (this synthetic corpus: top-5 cosine
# ≈ 0.33, p ≈ 0.61) no sublinear bucketing reaches 0.8 — the
# measured floor is asserted in tests for both regimes.


def _masks_sql(bits: int | None = None) -> str:
    # single parsed literal — used many times per plan; per-element
    # F.lit calls would multiply py4j round-trips. ``bits`` overrides
    # the engine default — the stored-index resize path re-derives
    # signatures at a corpus-sized H (operators.ann_index).
    bits = bits or ANN_PLANES
    return "array(" + ", ".join(f"{1 << p}L" for p in range(bits)) + ")"


def _planes_sql(bits: int | None = None) -> str:
    """The nested plane-array literal as SQL text (see
    :func:`_planes_matrix` for why it is one string)."""
    bits = bits or ANN_PLANES
    rows = ", ".join(
        "array(" + ", ".join(f"{c!r}D" for c in _hyperplane_values(i)) + ")"
        for i in range(ANN_TABLES * bits)
    )
    return f"array({rows})"


def _planes_matrix(bits: int | None = None) -> Column:
    """ALL tables' planes as one nested array literal
    (ANN_TABLES·ANN_PLANES × EMB_DIM doubles), built as a single SQL
    expression string. Two reasons: (a) constant-folds to one Literal
    node so every projection is ONE ``transform`` over it — 32
    separate per-plane dot expressions made plan/codegen cost dominate
    at small data; (b) one py4j call —
    building it from 2048 nested ``F.lit``/``F.array`` calls spent
    ~6 s of driver time on py4j round-trips alone. The ``D`` suffix
    parses each component as DOUBLE (bare decimals parse as DECIMAL)."""
    return F.expr(_planes_sql(bits))


def _all_projections_sql(vec: str, bits: int | None = None) -> str:
    """array<double> of dot(vec, plane) for every table's planes.

    SQL text: the Column form (``F.transform`` + ``_dot``
    lambdas) and its siblings below cost thousands of py4j
    round-trips per similarity_ann plan build (~1.8 s, measured in
    the build span of tools/profiler.py layers); each f-string parses
    JVM-side into the identical expression tree the Column chain produced —
    the same move as :func:`_planes_matrix`,
    extended to the whole signature/probe surface. Result parity is
    pinned by the stored-index bit-parity tests and the oracle gate."""
    return f"transform({_planes_sql(bits)}, pl -> {_dot_sql(vec, 'pl')})"


def _sig_of_sql(projs: str, bits: int | None = None) -> str:
    """H-bit signature: bit p set iff projection p is positive."""
    return (
        f"aggregate(zip_with({projs}, {_masks_sql(bits)}, "
        "(x, m) -> CASE WHEN x > 0 THEN m ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _flip_masks_sql(projs: str, bits: int | None = None) -> str:
    """The multi-probe flip masks as ONE small array expression: rank
    planes by (|proj|, plane-index) STRUCTS (value-based
    array_position would resolve tied |projections| — e.g. a zero
    vector — to the same first index, collapsing distinct probes back
    into the primary bucket), keep the ``n_probe`` lowest-|projection|
    planes (the bits most likely to disagree with a true neighbor's
    signature sit closest to the hyperplane), map each to its bit
    mask. Projected into its own column so the probe expressions
    below reference a tiny attribute instead of inlining the ranked
    subtree 36× per table — that duplication's eager
    per-transformation re-analysis dominated the plan-build wall
    (the build span of tools/profiler.py layers)."""
    bits = bits or ANN_PLANES
    # a signature narrower than the probe budget can't flip more
    # planes than it has — cap the fan-out (only reachable when a
    # stored index resizes DOWN below ANN_PROBE_BITS planes)
    n_probe = min(ANN_PROBE_BITS, bits)
    idx = "array(" + ", ".join(str(p) for p in range(bits)) + ")"
    ranked = (
        f"array_sort(zip_with({projs}, {idx}, "
        "(x, i) -> named_struct('a', abs(x), 'i', i)))"
    )
    return (
        f"transform(slice({ranked}, 1, {n_probe}), "
        f"r -> element_at({_masks_sql(bits)}, CAST(r.i + 1 AS INT)))"
    )


def _probes_from_masks_sql(sig: str, fm: str, bits: int | None = None) -> str:
    """Probe buckets for a query: its own signature plus every
    single- and pair-flip of the flip-mask planes
    (:func:`_flip_masks_sql`) — ``sig ^ mask`` singles and pairs with
    ``element_at({fm}, k)`` standing in for each mask."""
    bits = bits or ANN_PLANES
    n_probe = min(ANN_PROBE_BITS, bits)
    masks = [f"element_at({fm}, {k + 1})" for k in range(n_probe)]
    probes = [sig]
    probes += [f"({sig} ^ {m})" for m in masks]
    probes += [
        f"(({sig} ^ {masks[i]}) ^ {masks[j]})"
        for i in range(n_probe)
        for j in range(i + 1, n_probe)
    ]
    return f"array_distinct(array({', '.join(probes)}))"


def _ann_sigs(emb: DataFrame, bits: int | None = None) -> DataFrame:
    """Per-vector projections + per-table signatures — the shared
    front-end of the corpus-index and query-probe frames. ``bits``
    overrides the engine default H (stored-index resize path)."""
    bits = bits or ANN_PLANES
    all_projs = emb.selectExpr(
        "vec_id", "v", f"{_all_projections_sql('v', bits)} AS ap"
    )
    projected = all_projs.selectExpr(
        "vec_id",
        "v",
        *[
            f"slice(ap, {t * bits + 1}, {bits}) AS projs_{t}"
            for t in range(ANN_TABLES)
        ],
    )
    return projected.selectExpr(
        "vec_id",
        "v",
        *[f"projs_{t}" for t in range(ANN_TABLES)],
        *[
            f"{_sig_of_sql(f'projs_{t}', bits)} AS sig_{t}"
            for t in range(ANN_TABLES)
        ],
    )


def _ann_corpus_rows(
    sigs: DataFrame, min_id: int | None = N_QUERIES
) -> DataFrame:
    """Corpus index rows (neighbor_id, cv, tbl, cb) — at 100 TB these
    are WRITTEN ONCE, partitioned by (tbl, cb), and probed as point
    bucket reads (operators.ann_index materializes exactly this
    layout and asserts parity with the on-the-fly path).
    ``min_id=None`` indexes EVERY row — the stored-index build over a
    standalone corpus frame, vs the graded query's id-split
    convention."""
    if min_id is None:
        sigs_corpus = sigs
    else:
        sigs_corpus = sigs.filter(F.col("vec_id") >= min_id)
    structs = ", ".join(
        f"named_struct('tbl', {t}, 'cb', sig_{t})" for t in range(ANN_TABLES)
    )
    return sigs_corpus.selectExpr(
        "vec_id AS neighbor_id",
        "v AS cv",
        f"explode(array({structs})) AS ts",
    ).select("neighbor_id", "cv", "ts.tbl", "ts.cb")


def _ann_query_probes(
    sigs: DataFrame,
    bits: int | None = None,
    max_id: int | None = N_QUERIES,
) -> DataFrame:
    """Query probe rows (query_id, qv, qtbl, probe): own signature
    plus the low-|projection| single/pair flips, per table.
    ``max_id=None`` treats EVERY row as a query (stored-index probe
    over a standalone query frame)."""
    if max_id is None:
        sigs_q = sigs
    else:
        sigs_q = sigs.filter(F.col("vec_id") < max_id)
    # flip masks projected once per table (see _flip_masks_sql) — the
    # probe structs below then stay constant-size
    with_masks = sigs_q.selectExpr(
        "vec_id",
        "v",
        *[f"sig_{t}" for t in range(ANN_TABLES)],
        *[
            f"{_flip_masks_sql(f'projs_{t}', bits)} AS fm_{t}"
            for t in range(ANN_TABLES)
        ],
    )
    structs = ", ".join(
        "named_struct('tbl', {t}, 'probes', {p})".format(
            t=t, p=_probes_from_masks_sql(f"sig_{t}", f"fm_{t}", bits)
        )
        for t in range(ANN_TABLES)
    )
    return (
        with_masks
        .selectExpr(
            "vec_id AS query_id",
            "v AS qv",
            f"explode(array({structs})) AS tp",
        )
        .select(
            "query_id", "qv", F.col("tp.tbl").alias("qtbl"),
            F.explode("tp.probes").alias("probe"),
        )
    )


def _ann_join_score(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Bucket equi-join + cosine + per-query top-k — shared by the
    on-the-fly path and the stored-index probe.

    ONE shuffle: a separate dedupe would pay two exchanges — a
    dropDuplicates hash-agg on (query, neighbor) for pairs colliding
    in several tables/probes, then the top-k window on (query). The
    dedupe + rank + cap run as a single groupBy(query_id)
    aggregation: sort the candidate structs (desc cosine via a
    negated sort key, ties to the smallest neighbor — the exact
    window order), then fold keep-FIRST-per-neighbor up to TOP_K.
    Per-query state is the candidate list — bounded by the probe
    fan-out (tables × probes × ~bucket_target rows), never the
    corpus. NaN cosines sort FIRST (nanvl → -inf sort key), matching
    the window's NaN-greatest desc order. Collided duplicates carry
    identical vectors → identical cosines, so keep-first equals the
    old arbitrary-keep; a transient changed-vector duplicate
    (at-least-once redelivery) now deterministically answers with
    its best-scoring copy instead of an arbitrary one."""
    scored = corpus.join(
        F.broadcast(queries),
        (F.col("tbl") == F.col("qtbl")) & (F.col("cb") == F.col("probe")),
    ).selectExpr(
        "query_id",
        "neighbor_id",
        f"round({_cosine_sql('qv', 'cv')}, 6) AS cosine",
    )
    ranked = (
        "array_sort(collect_list(named_struct("
        "'nc', -nanvl(cosine, CAST('Infinity' AS DOUBLE)), "
        "'nid', neighbor_id, 'cos', cosine)))"
    )
    empty = "CAST(array() AS array<struct<nc:double,nid:bigint,cos:double>>)"
    top = F.expr(
        f"aggregate({ranked}, {empty}, (acc, x) -> "
        f"CASE WHEN size(acc) < {TOP_K} "
        "AND NOT exists(acc, a -> a.nid = x.nid) "
        "THEN array_append(acc, x) ELSE acc END)"
    )
    agg = scored.groupBy("query_id").agg(top.alias("top"))
    ex = agg.select("query_id", F.posexplode("top").alias("pos", "t"))
    return ex.select(
        "query_id",
        F.col("t.nid").alias("neighbor_id"),
        F.col("t.cos").alias("cosine"),
        (F.col("pos") + 1).cast("long").alias("rank"),
    )


def _ann_topk(emb: DataFrame, bits: int | None = None) -> DataFrame:
    """Multi-table multi-probe hyperplane-LSH approximate top-k over
    an (vec_id, v:array<double>) frame. The plan stays a bucketed
    equi-join: corpus rows explode to (table, sig) — at 100 TB these
    are written once, partitioned by (table, sig) — and each query
    probes its own bucket plus the low-confidence flips, touching
    L·probes/2^H of the corpus instead of all of it."""
    sigs = _ann_sigs(emb, bits)
    return _ann_join_score(
        _ann_corpus_rows(sigs), _ann_query_probes(sigs, bits)
    )


def similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: multi-table signatures with
    multi-probe queries (see :func:`_ann_topk`)."""
    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    return _ann_topk(emb)


IVF_CENTROIDS = 8
# Lloyd rounds run on the DRIVER-SIDE TRAINING SAMPLE (numpy — each
# round is milliseconds), so the budget is generous and the centroid
# fixpoint — not this cap — is the stopping rule in practice (the
# fixtures reach it in 12/14/24 rounds at sf0.001/0.01/0.1; the old
# 3-round corpus-pass budget truncated training and the early exit
# never fired, see tests/test_similarity.py)
IVF_ITERATIONS = 50
# 3 of 8 cells probed: measured recall@top-5 vs the exact ranking at
# sf0.1 is 0.54 / 0.76 / 0.88 for nprobe 2/3/4 at indistinguishable
# query cost on the fixtures. 3 is the shipped operating point —
# 0.76 recall for touching 37.5% of this tiny 8-cell index. The
# fraction is an artifact of k=8: production IVF grows k with corpus
# size (k ≈ √n cells), so nprobe/k — the fraction of corpus scanned —
# SHRINKS as the corpus grows; nprobe is a recall knob, not a scan
#-fraction constant.
IVF_NPROBE = 3
# quantizer training set bound: the smallest-xxhash64 IVF_TRAIN_MAX
# vectors — a deterministic uniform sample. FAISS-style: k-means
# quality saturates at a few hundred training points per centroid, so
# training cost stays CONSTANT as the corpus grows; only the single
# final assignment pass is corpus-sized.
IVF_TRAIN_MAX = 4096

# observability: Lloyd rounds the last similarity_ivf call actually ran
# (the fixpoint probe can stop the loop early) — read by tests/probes
_LAST_IVF_ROUNDS = 0


def _train_quantizer_numpy(
    spark: SparkSession, sample_rows, k: int | None = None
) -> DataFrame:
    """Fit the coarse quantizer on the collected training sample and
    return it as a (cell: int, cv: array<double>) DataFrame — a thin
    DataFrame wrapper over :func:`_train_rows`, which holds the ONE
    shared Lloyd implementation (the oracle builder
    :func:`ivf_centroids_for` calls the same function so the injected
    centroid constants are the Spark-trained centroids by
    construction, not by re-implementation)."""
    rows = _train_rows(sample_rows, k)
    # one parsed literal frame: createDataFrame of the k
    # centroid rows cost ~0.28 s of driver time per build (py4j
    # serialization + local-relation setup); the inline() literal is
    # one expression string with the same exact values (repr + D
    # suffix round-trips every finite double bit-exactly, the
    # _planes_matrix convention) and the same (cell int,
    # cv array<double>) schema
    structs = ", ".join(
        "named_struct('cell', {c}, 'cv', array({vs}))".format(
            c=int(c), vs=", ".join(f"{v!r}D" for v in cv)
        )
        for c, cv in rows
    )
    return spark.range(1).selectExpr(f"inline(array({structs}))")


def _train_rows(
    sample_rows, k: int | None = None
) -> list[tuple[int, list[float]]]:
    """The quantizer training core, engine-free: sample rows
    ({"_k": hash, "v": vector}) → [(cell, centroid)].

    Vectorized Lloyd to the centroid fixpoint (capped at
    IVF_ITERATIONS): assignment = max cosine, ties to the smallest
    cell (the same semantics ``nearest_cell`` applies distributively);
    update = per-cell mean rounded to 9 dp (damps summation-order
    float drift so the fixpoint is well-defined); a cell that loses
    all members keeps its previous centroid. Seeds are the
    IVF_CENTROIDS smallest-hash sample vectors — fully deterministic,
    no RNG. Malformed sample vectors (wrong length / NULL elements)
    are excluded from TRAINING only; the corpus assignment pass still
    handles them with SQL NULL semantics.
    """
    import numpy as np

    global _LAST_IVF_ROUNDS
    rows = sorted(sample_rows, key=lambda r: r["_k"])
    # validity mirrors _is_finite_vector: non-finite elements are
    # excluded from TRAINING too — a NaN/inf sample
    # element would poison the centroid mean, and the inline() literal
    # frame renders non-finite doubles as nanD/infD which do not parse
    # (createDataFrame used to accept the poisoned centroid silently;
    # failing to train on garbage was never the intent either way)
    vecs = [
        r["v"]
        for r in rows
        if r["v"] is not None
        and len(r["v"]) == EMB_DIM
        and all(x is not None and math.isfinite(x) for x in r["v"])
    ]
    if not vecs:
        # np.asarray([]) is shape (0,): the matmul/norm below would
        # die with an opaque shape error — fail with the actual cause
        raise ValueError(
            "IVF quantizer training: no valid vectors in the sample "
            f"(need length-{EMB_DIM}, non-NULL elements); cannot train"
        )
    X = np.asarray(vecs, dtype=np.float64)
    k = min(k or IVF_CENTROIDS, len(X))
    cents = X[:k].copy()
    x_norm = np.linalg.norm(X, axis=1)
    x_norm[x_norm == 0.0] = 1.0
    prev = None
    for _round in range(IVF_ITERATIONS):
        cu = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-300
        )
        # cosine(v, c) for all pairs; argmax picks the FIRST (smallest
        # cell) on ties — matching nearest_cell's (sim, -cell) argmax
        sims = (X @ cu.T) / x_norm[:, None]
        assign = sims.argmax(axis=1)
        new_cents = cents.copy()
        for c in range(k):
            members = X[assign == c]
            if len(members):
                new_cents[c] = np.round(members.mean(axis=0), 9)
        cents = new_cents
        _LAST_IVF_ROUNDS = _round + 1
        key = cents.tobytes()
        if key == prev:
            break
        prev = key
    return [(c + 1, [float(x) for x in cents[c]]) for c in range(k)]


def _ivf_sample(emb: DataFrame) -> list:
    """The deterministic training sample: smallest-hash IVF_TRAIN_MAX
    vectors, planned as TakeOrderedAndProject (partial top-k per
    partition, no global sort); the collect is bounded at
    ≤ IVF_TRAIN_MAX × EMB_DIM doubles ≈ 2 MB."""
    init_key = F.xxhash64(F.col("vec_id").cast("string"))
    return (
        emb.select("v", init_key.alias("_k"))
        .orderBy("_k")
        .limit(IVF_TRAIN_MAX)
        .collect()
    )


def _ivf_centroids(
    spark: SparkSession, emb: DataFrame, k: int | None = None
) -> DataFrame:
    """Deterministic sample → driver-side Lloyd fixpoint → (cell, cv)
    frame — the shared training front-end of the graded query and the
    stored index (operators.ivf_index)."""
    return _train_quantizer_numpy(spark, _ivf_sample(emb), k)


def _nearest_cell(
    frame: DataFrame, cents: DataFrame, vec_col: str = "v"
) -> DataFrame:
    """Assign each vector to its max-cosine centroid with NO
    shuffle: the k centroids collapse to ONE broadcast row
    holding an array of (cell, cv) structs, and the argmax is a
    per-row ``array_max`` over (sim, -cell) structs — fieldwise
    struct comparison picks max sim, ties to the smallest cell,
    exactly the former max_by semantics. The old join+groupBy
    form shuffled k rows per vector every Lloyd round; this is
    embarrassingly parallel map work (at 100 TB, assignment cost
    is one corpus pass, no exchange)."""
    # zero-norm guard mirrors _train_quantizer_numpy's
    # np.maximum(norm, 1e-300): without it a zero centroid (an
    # all-zero sample vector seeding a cell that never gains
    # members) yields all-NaN units, NaN sims, and — because
    # Spark orders NaN above every double — array_max would hand
    # that dead cell EVERY corpus vector
    unit = (
        "transform(cv, x -> x / greatest("
        f"sqrt({_dot_sql('cv', 'cv')}), {1e-300!r}D))"
    )
    cent_row = cents.selectExpr("cell", f"{unit} AS cu").agg(
        F.collect_list(F.struct("cell", "cu")).alias("_cents")
    )
    # zero-vector guard mirrors numpy's x_norm[x_norm == 0] = 1.0
    raw_vnorm = f"sqrt({_dot_sql(vec_col, vec_col)})"
    vnorm = f"CASE WHEN {raw_vnorm} = 0.0D THEN 1.0D ELSE {raw_vnorm} END"
    argmax = (
        "CAST(array_max(transform(_cents, c -> named_struct("
        f"'sim', {_dot_sql(vec_col, 'c.cu')} / _vn, "
        "'negcell', -c.cell))).negcell AS INT)"
    )
    return (
        frame.join(F.broadcast(cent_row))
        .selectExpr(
            "vec_id",
            "v",
            "_cents",
            f"{vnorm} AS _vn",
        )
        .selectExpr(
            "vec_id",
            "v",
            f"{argmax} AS _nc",
        )
        .select("vec_id", "v", (-F.col("_nc")).alias("cell"))
    )


def _query_cells(
    q: DataFrame, centroids: DataFrame, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """(query_id, qv, cell) — each query's ``nprobe`` closest cells,
    ties to the smallest cell. The centroid frame broadcasts; the
    window partitions per query (query-sized, never corpus-sized)."""
    q_scored = q.join(F.broadcast(centroids)).selectExpr(
        "vec_id AS query_id",
        "v AS qv",
        "cell",
        f"{_cosine_sql('v', 'cv')} AS sim",
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("cell")
    )
    return (
        q_scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def _ivf_score(corpus_cells: DataFrame, q_cells: DataFrame) -> DataFrame:
    """Cell equi-join + cosine + per-query top-k — shared by the
    on-the-fly query and the stored-index probe."""
    scored = corpus_cells.join(F.broadcast(q_cells), "cell").selectExpr(
        "query_id",
        "vec_id AS neighbor_id",
        f"round({_cosine_sql('qv', 'v')}, 6) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer, queries
    probe their IVF_NPROBE nearest centroid cells.

    Deterministic, and trained at SAMPLE cost: the quantizer is fit by
    Lloyd iterations over the IVF_TRAIN_MAX smallest-xxhash64 vectors —
    a deterministic uniform sample picked via TakeOrdered (parallel
    partial top-k, never a global single-partition sort), collected
    ONCE to the driver (bounded: ≤4096 × EMB_DIM doubles ≈ 2 MB — a
    deliberate, size-capped collect like the 8-row fixpoint probe it
    replaces, NOT a corpus collect), and iterated to the centroid
    FIXPOINT in numpy under the IVF_ITERATIONS cap. This is the
    standard IVF training topology (sample → small-machine k-means →
    distributed assignment): a distributed Lloyd round over a
    broadcastable sample is pure scheduler overhead — a distributed
    loop pays IVF_ITERATIONS Spark jobs (or corpus passes) to move
    2 MB of math that a vectorized driver loop does in
    milliseconds.

    At 100 TB: training cost is CONSTANT (the sample bound), the
    corpus pays exactly ONE map-only assignment pass (see
    ``nearest_cell`` — broadcast centroids, zero exchange), written at
    ingest partitioned by cell; queries then touch nprobe/k of the
    corpus.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double().alias("v")
    )
    # reused by the final assignment + probe joins; lazy — the first
    # broadcast/agg materializes it inside an already-running job
    emb = emb.localCheckpoint(eager=False)
    centroids = _ivf_centroids(spark, emb)
    # the corpus's ONE assignment pass (at ingest time in production —
    # operators.ivf_index stores exactly this frame partitioned by cell)
    corpus_cells = _nearest_cell(emb, centroids).filter(
        F.col("vec_id") >= N_QUERIES
    )
    q_cells = _query_cells(emb.filter(F.col("vec_id") < N_QUERIES),
                           centroids)
    return _ivf_score(corpus_cells, q_cells)


# ------------------------------------------------------------------ oracle
# Pure-Python XXH64 (public algorithm, Collet's reference layout) with
# Spark's default seed 42 — needed ONLY at oracle-build time, to replay
# the IVF training-sample selection (`orderBy(xxhash64(vec_id))`)
# outside Spark so the trained centroids can be injected into DuckDB
# SQL as constants. Verified bit-for-bit against `F.xxhash64` in
# tests/test_similarity.py (empty/tail/4-byte/32-byte-lane cases).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a SIGNED 64-bit int — the exact value
    Spark's ``xxhash64(col)`` returns for the same bytes (Spark
    hashes the UTF-8 bytes of a string column with seed 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64
        while i <= n - 32:
            k1 = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl64((v1 + k1 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            k2 = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl64((v2 + k2 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            k3 = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl64((v3 + k3 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            k4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl64((v4 + k4 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _U64
        for v in (v1, v2, v3, v4):
            h = (
                (h ^ ((_rotl64((v * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64))
                * _XXH_P1
                + _XXH_P4
            ) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i <= n - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        h = (
            _rotl64(h ^ ((_rotl64((k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64), 27)
            * _XXH_P1
            + _XXH_P4
        ) & _U64
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl64(h ^ ((k * _XXH_P1) & _U64), 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXH_P5) & _U64), 11) * _XXH_P1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-fold double dot product — the same op order as the Spark
    ``_dot`` (zip_with multiply, aggregate left-fold add), so the
    IEEE result is bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def py_query_probes(
    rows: list[tuple[int, list[float]]], bits: int | None = None
) -> list[tuple[int, list[float], int, int]]:
    """Engine-free replay of ``_ann_query_probes`` for a DRIVER-SIDE
    query list — (query_id, qv, qtbl, probe) tuples, bit-identical to
    the Spark expression tree: the stored-index probe's query
    side is driver-bounded BY DESIGN (the probe list is collected to
    build the path list anyway), and signing ten vectors through the
    32×64-double planes literal cost ~1.3 s of analyze/codegen per
    call versus microseconds of Python.

    Bit-parity argument, mirror of the ANN oracle recipe: projections
    are ``_fold_dot`` (the proven left-fold replay of ``_dot``); the
    signature sums the same power-of-two masks on the same
    ``proj > 0`` predicate (integer adds, exact); flip planes sort
    (|proj|, index) tuples exactly like the struct ``array_sort`` —
    fieldwise, ties to the smaller index, NaN greater than every
    double (Spark's double ordering, replicated explicitly because
    Python's ``sorted`` has no NaN total order). Pinned by
    tests/test_ann_index.py::test_build_probe_parity_with_fly and the
    driver's oracle hash row."""
    import math  # noqa: PLC0415

    bits = bits or ANN_PLANES
    n_probe = min(ANN_PROBE_BITS, bits)
    planes = [
        _hyperplane_values(i) for i in range(ANN_TABLES * bits)
    ]
    out: list[tuple[int, list[float], int, int]] = []
    for qid, v in rows:
        for t in range(ANN_TABLES):
            projs = [
                _fold_dot(v, planes[t * bits + p]) for p in range(bits)
            ]
            # Spark's NaN semantics: NaN compares GREATER than any
            # double, so `proj > 0` is TRUE for NaN projections
            sig = sum(
                1 << p
                for p in range(bits)
                if projs[p] > 0 or math.isnan(projs[p])
            )
            ranked = sorted(
                range(bits),
                key=lambda p: (
                    math.isnan(abs(projs[p])),
                    abs(projs[p]),
                    p,
                ),
            )
            flips = [1 << ranked[k] for k in range(n_probe)]
            probes = [sig]
            probes += [sig ^ m for m in flips]
            probes += [
                sig ^ flips[i] ^ flips[j]
                for i in range(n_probe)
                for j in range(i + 1, n_probe)
            ]
            seen: set[int] = set()
            for pb in probes:
                if pb not in seen:
                    seen.add(pb)
                    out.append((qid, v, t, pb))
    return out


def py_query_cells(
    q_rows: list[tuple[int, list[float]]],
    cent_rows: list[tuple[int, list[float]]],
    nprobe: int = IVF_NPROBE,
) -> list[tuple[int, list[float], int]]:
    """Engine-free replay of ``_query_cells`` for a DRIVER-SIDE query
    list against COLLECTED centroids (k ≤ MAX_CELLS rows — bounded) —
    (query_id, qv, cell) tuples, bit-identical to the Spark window
    (the ``py_query_probes`` rationale: the stored probe already
    collects the distinct probed cells, so the query side is
    driver-bounded by design and the broadcast-join + window plan was
    pure per-call overhead).

    Bit parity: cosine is ``_fold_dot`` + ``math.sqrt`` (IEEE
    exact-rounded, same as the JVM); ranking is desc-sim, ties to the
    smallest cell, NaN GREATEST (Spark's double ordering), via a
    stable two-pass sort. Zero-norm denominators are guarded
    EXPLICITLY and ranked LAST: Spark's ``Divide`` on a zero divisor
    is NOT an IEEE ±Inf/NaN — it raises DIVIDE_BY_ZERO under the
    ANSI-on default (NULL, ordered last, under non-ANSI) — so a
    zero-norm centroid must never be probed preferentially; ranking
    it last matches the non-ANSI NULL ordering and keeps the replay
    loud-failure-free where ANSI Spark would abort. On the real
    fixtures no zero-norm centroid exists (Lloyd means of nonzero
    float32 vectors), so this guard never fires on a graded row —
    pinned by tests/test_similarity.py."""
    import math  # noqa: PLC0415

    out: list[tuple[int, list[float], int]] = []
    for qid, v in q_rows:
        vnorm = math.sqrt(_fold_dot(v, v))
        scored = []
        for cell, cv in cent_rows:
            denom = vnorm * math.sqrt(_fold_dot(cv, cv))
            if denom == 0.0:
                # rank-last sentinel: never probed before any real sim
                sim = float("-inf")
            else:
                sim = _fold_dot(v, cv) / denom
            scored.append((cell, sim))
        scored.sort(key=lambda r: r[0])  # ties → smallest cell
        scored.sort(
            key=lambda r: (math.isnan(r[1]), r[1]), reverse=True
        )  # desc sim, NaN greatest (stable over the cell order)
        out.extend((qid, v, cell) for cell, _ in scored[:nprobe])
    return out


def ivf_centroids_for(
    sf_dir: str, train_min_id: int | None = None
) -> list[tuple[int, list[float]]]:
    """Replay `similarity_ivf`'s quantizer training OUTSIDE Spark:
    read the embeddings parquet directly (pyarrow), select the same
    deterministic sample (smallest signed-xxhash64(str(vec_id)),
    first IVF_TRAIN_MAX), apply the same validity filter, and run the
    IDENTICAL numpy Lloyd fixpoint. Because every step is
    deterministic — the hash is replayed bit-exactly (see
    :func:`xxh64`), float32→float64 casts are exact, and the numpy
    loop is literally the same code — the returned centroids equal
    the ones the Spark query trains, making them injectable into the
    DuckDB oracle as constants (the `similarity_ann` recipe, where
    the injected constants are the splitmix64 hyperplanes).

    ``train_min_id`` replays a CORPUS-ONLY training set (filter
    ``vec_id >= train_min_id`` BEFORE the hash sort, exactly like
    ``_ivf_centroids`` over a pre-filtered frame) — the shape
    ``build_ivf_index`` trains in the stored-index production path,
    where query vectors are arrivals, not index members."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    rows = [
        {"_k": xxh64(str(vid).encode()), "v": emb}
        for vid, emb in zip(
            tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()
        )
        if train_min_id is None or vid >= train_min_id
    ]
    rows.sort(key=lambda r: r["_k"])
    cents_df_rows = _train_rows(rows[:IVF_TRAIN_MAX])
    return cents_df_rows


def ivf_oracle_for(
    sf_dir: str, train_min_id: int | None = None
) -> str:
    """similarity_ivf's FULL pipeline in DuckDB SQL for the data at
    ``sf_dir`` — train the quantizer via :func:`ivf_centroids_for`
    (deterministic ⇒ equal to the Spark-side fixpoint), inject both
    the RAW centroids (query probe ranking uses the full cosine
    against them) and the UNIT centroids (corpus assignment divides
    by the centroid norm exactly once, Spark-side in `nearest_cell`)
    as list literals, then mirror the assignment argmax, the nprobe
    window, and the rounded-cosine top-k term-for-term.

    With ``train_min_id`` the injected centroids replay corpus-only
    training — the oracle of ``probe_ivf_index`` (the STORED-index
    production path): the assignment/probe/top-k SQL is
    identical because the stored probe shares the fly query's exact
    scoring code; only the trained constants move."""
    cents = ivf_centroids_for(sf_dir, train_min_id)
    ucents = []
    for cell, cv in cents:
        norm = _fold_dot(cv, cv) ** 0.5
        denom = norm if norm > 1e-300 else 1e-300
        ucents.append((cell, [x / denom for x in cv]))
    cent_rows = ",\n            ".join(
        "({c}, [{vals}]::DOUBLE[])".format(
            c=c, vals=", ".join(repr(x) for x in cv)
        )
        for c, cv in cents
    )
    ucent_rows = ",\n            ".join(
        "({c}, [{vals}]::DOUBLE[])".format(
            c=c, vals=", ".join(repr(x) for x in cu)
        )
        for c, cu in ucents
    )
    return f"""
        WITH cents(cell, cv) AS (VALUES
            {cent_rows}
        ), ucents(cell, cu) AS (VALUES
            {ucent_rows}
        ), emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), corpus_cells AS (
            SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, u.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, u.cu)
                                    / (CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0
                                            THEN 1.0
                                            ELSE sqrt(list_dot_product(e.v, e.v)) END)
                                    DESC,
                                    u.cell ASC
                       ) AS rn
                FROM emb e CROSS JOIN ucents u
                WHERE e.vec_id >= {N_QUERIES}
            ) WHERE rn = 1
        ), q_cells AS (
            SELECT query_id, qv, cell FROM (
                SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_dot_product(e.v, c.cv)
                                    / (sqrt(list_dot_product(e.v, e.v))
                                       * sqrt(list_dot_product(c.cv, c.cv)))
                                    DESC,
                                    c.cell ASC
                       ) AS r
                FROM emb e CROSS JOIN cents c
                WHERE e.vec_id < {N_QUERIES}
            ) WHERE r <= {IVF_NPROBE}
        ), scored AS (
            SELECT q.query_id, cc.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.qv, cc.v)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(cc.v, cc.v))),
                         6) AS cosine
            FROM corpus_cells cc JOIN q_cells q USING (cell)
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   )::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """


def _ann_oracle() -> str:
    """similarity_ann's FULL pipeline in DuckDB SQL. Possible because
    the 'random' hyperplanes are plain Python splitmix64 float
    constants (`_hyperplane_values`) — injected below as the exact
    same literals (repr round-trips doubles losslessly) — and because
    cross-engine double dot products agree bit-for-bit here
    (established by the hash-passing dedup_embedding/similarity_topk
    oracles; both engines fold the product sum left-to-right).
    Signature bits, probe-flip selection (abs-projection ranking,
    ties by plane index), single+pair probes, candidate dedup,
    cosine scoring, and the rounded-cosine top-k all mirror the
    Spark expressions term-for-term."""
    planes_rows = ",\n            ".join(
        "({t}, {bit}, [{vals}])".format(
            t=i // ANN_PLANES,
            bit=i % ANN_PLANES,
            vals=", ".join(repr(c) for c in _hyperplane_values(i)),
        )
        for i in range(ANN_TABLES * ANN_PLANES)
    )
    return f"""
        WITH planes(t, bit, pl) AS (VALUES
            {planes_rows}
        ), emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), proj AS (
            SELECT e.vec_id, p.t, p.bit, list_dot_product(e.v, p.pl) AS x
            FROM emb e, planes p
        ), sigs AS (
            SELECT vec_id, t,
                   SUM(CASE WHEN x > 0 THEN (1::BIGINT << bit)
                            ELSE 0 END)::BIGINT AS sig
            FROM proj GROUP BY vec_id, t
        ), corpus AS (
            SELECT vec_id AS neighbor_id, t, sig
            FROM sigs WHERE vec_id >= {N_QUERIES}
        ), qs AS (
            SELECT vec_id AS query_id, t, sig
            FROM sigs WHERE vec_id < {N_QUERIES}
        ), qflips AS (
            SELECT vec_id, t, bit,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, t ORDER BY abs(x), bit
                   ) AS rk
            FROM proj WHERE vec_id < {N_QUERIES}
            QUALIFY rk <= {ANN_PROBE_BITS}
        ), probes AS (
            SELECT query_id, t, sig AS probe FROM qs
            UNION
            SELECT q.query_id, q.t, xor(q.sig, 1::BIGINT << f.bit)
            FROM qs q JOIN qflips f
              ON f.vec_id = q.query_id AND f.t = q.t
            UNION
            SELECT q.query_id, q.t,
                   xor(xor(q.sig, 1::BIGINT << f1.bit),
                       1::BIGINT << f2.bit)
            FROM qs q
            JOIN qflips f1 ON f1.vec_id = q.query_id AND f1.t = q.t
            JOIN qflips f2 ON f2.vec_id = q.query_id AND f2.t = q.t
                          AND f1.rk < f2.rk
        ), cand AS (
            SELECT DISTINCT p.query_id, c.neighbor_id
            FROM probes p JOIN corpus c
              ON c.t = p.t AND c.sig = p.probe
        ), scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   ROUND(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))),
                         6) AS cosine
            FROM cand
            JOIN emb q ON q.vec_id = cand.query_id
            JOIN emb c ON c.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   )::BIGINT AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """


# --- int8 embedding quantization -----------------------------------
#
# The 4× memory lever for the 100 TB ANN path: per-vector symmetric
# int8 quantization (code_i = round(127·x_i / max|x|), scale =
# max|x|/127 rides along as one double). At scale this is what lets a
# 100 TB fp32 embedding corpus fit a 25 TB ANN working set — the
# stored-index probe path (similarity_ann) reads 1 byte/dim instead
# of 4, and reconstruction x̂ = code·scale bounds the per-element
# error by scale/2, so cosine ranking degrades by a provable hair
# (pinned in tests/test_similarity.py). Everything is map-only —
# zero shuffle; the report is one agg.
#
# Cross-engine exactness: code computation is floor((127·x)/m + 0.5)
# on IEEE doubles — multiplication, correctly-rounded division, add,
# floor are bit-identical in Spark and DuckDB (the established
# discipline of the similarity/dedup_embedding oracles), and every
# reported stat is integer arithmetic after that.

QUANT_LEVELS = 127  # symmetric int8: codes span [-127, 127]


def quant_abs_max(vec: Column) -> Column:
    """Per-vector max |x| — the quantizer's denominator."""
    return F.array_max(F.transform(vec, F.abs))


def quant_code_col(vec: Column, m: Column, cast_to: str = "int") -> Column:
    """The exactness-critical code expression, defined ONCE and
    reused by the operator and every stress site (three drifting
    copies of this arithmetic would silently desynchronize the
    cross-engine bit-identity discipline): floor((127·x)/m + 0.5) on
    IEEE doubles — multiplication, correctly-rounded division, add,
    floor are bit-identical in Spark and DuckDB. ``(127·m)/m`` is
    exactly 127.0 in IEEE, so no clamp is needed; all-zero vectors
    (m = 0) quantize to all-zero codes."""
    return F.transform(
        vec,
        lambda x: F.when(
            m > 0,
            F.floor((F.lit(float(QUANT_LEVELS)) * x) / m + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast(cast_to),
    )


def _is_finite_vector(vec: Column) -> Column:
    """No NULL / NaN / ±inf element. NaN poisons the quantizer
    silently (Spark's array_max ranks NaN largest ⇒ scale = NaN,
    every code floor(NaN)→0), DuckDB errors on the same cast, and a
    NULL element makes the two engines DISAGREE (Spark's three-valued
    exists drops the row, DuckDB's list_filter skips NULLs and keeps
    it) — so non-finite and NULL-holed vectors are EXCLUDED by an
    explicit contract both engines implement identically."""
    inf = F.lit(float("inf"))
    return ~F.exists(
        vec, lambda x: F.isnull(x) | F.isnan(x) | (F.abs(x) == inf)
    )


def quantize_vectors(emb: DataFrame) -> DataFrame:
    """MATERIALIZATION: vec_id, label, per-vector ``scale`` (double)
    and int ``codes`` (each value fits int8 by construction — see
    :func:`quant_code_col`; a production writer packs the codes
    column to BinaryType, 1 byte/dim — the array<int> here keeps the
    values oracle-readable). Vectors containing NaN/±inf are dropped
    (:func:`_is_finite_vector`): explicit absence beats silent
    all-zero codes with a NaN scale."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_m = (
        emb.withColumn("_v", v)
        .filter(_is_finite_vector(F.col("_v")))
        .withColumn("_m", quant_abs_max(F.col("_v")))
    )
    return with_m.select(
        "vec_id",
        "label",
        (F.col("_m") / QUANT_LEVELS).alias("scale"),
        quant_code_col(F.col("_v"), F.col("_m")).alias("codes"),
    )


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPORT: per-label census of the quantized corpus — code
    volume, saturation (|code| = 127: exactly the max-magnitude
    element(s) of each vector), dead zeros, mean |code| ×100, and the
    fp32-vs-int8 byte footprint (int8 pays 1 byte/dim + one 8-byte
    scale per vector). Integer-exact after the deterministic code
    computation, so the DuckDB twin hash-matches."""
    emb = load_table_parallel(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    q = quantize_vectors(emb)
    per_vec = q.select(
        "label",
        F.size("codes").alias("dim"),
        F.size(
            F.filter("codes", lambda c: F.abs(c) == QUANT_LEVELS)
        ).alias("sat"),
        F.size(F.filter("codes", lambda c: c == 0)).alias("zeros"),
        F.aggregate(
            "codes",
            F.lit(0).cast("long"),
            lambda acc, c: acc + F.abs(c).cast("long"),
        ).alias("sum_abs"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("dim").cast("long").alias("n_codes"),
            F.sum("sat").cast("long").alias("sat_codes"),
            F.sum("zeros").cast("long").alias("zero_codes"),
            F.sum("sum_abs").cast("long").alias("sum_abs_codes"),
        )
        .select(
            "label",
            "n_vecs",
            "n_codes",
            "sat_codes",
            "zero_codes",
            F.expr("(100 * sum_abs_codes) div n_codes").alias(
                "avg_abs_code_x100"
            ),
            (F.col("n_codes") * 4).cast("long").alias("bytes_fp32"),
            (F.col("n_codes") + F.col("n_vecs") * 8)
            .cast("long")
            .alias("bytes_int8"),
        )
        .orderBy("label")
    )


QUANTIZE_ORACLE = f"""
    WITH e AS (
        SELECT label, embedding::DOUBLE[] AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0
          AND len(list_filter(embedding::DOUBLE[],
                              x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    ), m AS (
        SELECT label, v,
               list_max(list_transform(v, x -> abs(x))) AS mx
        FROM e
    ), c AS (
        SELECT label,
               list_transform(v, x -> CASE WHEN mx > 0
                   THEN CAST(floor(({QUANT_LEVELS} * x) / mx + 0.5) AS INT)
                   ELSE 0 END) AS codes
        FROM m
    ), pv AS (
        SELECT label,
               len(codes) AS dim,
               len(list_filter(codes, c -> abs(c) = {QUANT_LEVELS})) AS sat,
               len(list_filter(codes, c -> c = 0)) AS zeros,
               list_sum(list_transform(codes, c -> abs(c))) AS sum_abs
        FROM c
    )
    SELECT label,
           COUNT(*)::BIGINT AS n_vecs,
           SUM(dim)::BIGINT AS n_codes,
           SUM(sat)::BIGINT AS sat_codes,
           SUM(zeros)::BIGINT AS zero_codes,
           CAST((100 * SUM(sum_abs)) // SUM(dim) AS BIGINT)
               AS avg_abs_code_x100,
           (SUM(dim) * 4)::BIGINT AS bytes_fp32,
           (SUM(dim) + COUNT(*) * 8)::BIGINT AS bytes_int8
    FROM pv GROUP BY label ORDER BY label
"""

def probe_ann_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded stored-index ANN path: build → versioned data dirs →
    atomic manifest → point-read probe. It holds the graded slot in
    place of the on-the-fly ``similarity_ann``, now in the retired
    pool, and shares its oracle SQL: stored-probe == on-the-fly bit
    parity is pinned by tests/test_ann_index.py. Lazy import —
    ann_index imports from this module."""
    from irio2024_mapreduce_spark.operators.ann_index import (  # noqa: PLC0415
        probe_ann_index_fixture,
    )

    return probe_ann_index_fixture(spark, sf_dir)


def probe_ivf_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded stored-index IVF path: build → cell-partitioned
    versioned dirs → atomic manifest → dir-pruned nprobe probe. It
    holds the graded slot in place of the on-the-fly
    ``similarity_ivf``, now in the retired pool. The oracle is
    ``ivf_oracle_for(sf_dir, train_min_id=N_QUERIES)``: same full
    pipeline SQL, centroids replayed over corpus-only training (the
    production build trains on what it stores). Lazy import —
    ivf_index imports from this module."""
    from irio2024_mapreduce_spark.operators.ivf_index import (  # noqa: PLC0415
        probe_ivf_index_fixture,
    )

    return probe_ivf_index_fixture(spark, sf_dir)


def _stored_ivf_oracle_for(sf_dir: str) -> str:
    """probe_ivf_index's oracle: the shared IVF pipeline SQL with
    centroids replayed over CORPUS-ONLY training (train_min_id =
    N_QUERIES) — what build_ivf_index trains in the stored path."""
    return ivf_oracle_for(sf_dir, train_min_id=N_QUERIES)


# Ungraded local-oracle queries (the driver window is full at 50),
# verified every test run by tests/test_query_battery.py. The
# on-the-fly similarity_ann and similarity_ivf gave their graded
# slots to the stored-index probes above and stay here as their
# parity references (tests/test_ann_index.py,
# tests/test_ivf_index.py::test_build_probe_parity_with_fly).
# Data-dependent oracles are builders sf_dir -> SQL, resolved by the
# registry only when an oracle is asked for.
RETIRED_TWIN_QUERIES = {
    "quantize_embeddings": quantize_embeddings,
    "similarity_ann": similarity_ann,
    "similarity_ivf": similarity_ivf,
}
RETIRED_TWIN_ORACLES = {
    "quantize_embeddings": QUANTIZE_ORACLE,
    "similarity_ann": _ann_oracle(),
    "similarity_ivf": ivf_oracle_for,
}


ORACLE_SQL = {
    "similarity_topk": f"""
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                         6) AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                                / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                   * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                                6) DESC,
                                c.vec_id ASC) AS rank
            FROM embeddings q JOIN embeddings c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rank <= {TOP_K}
    """,
    # The ANN hyperplanes are Python splitmix64 float constants,
    # injected into the SQL verbatim (see _ann_oracle). No SQL replays
    # the IVF Lloyd loop, but none has to: the loop is deterministic,
    # so the trained centroids are constants of the (data, code) pair,
    # and ivf_oracle_for replays the training outside Spark (bit-exact
    # xxh64 sample selection + the same numpy fixpoint) and injects
    # them. The stored probes share the on-the-fly SQL, since stored
    # == fly by pinned bit parity.
    "probe_ann_index": _ann_oracle(),
    "probe_ivf_index": _stored_ivf_oracle_for,
}

# The driver grades oracles at sf0.01 (driver contract); local
# tooling (tools/check_oracle.py --sf ...) rebuilds DATA-DEPENDENT
# oracles for whatever SF it checks via registry.oracle_sql_for.
DRIVER_ORACLE_SF = "/root/testdata/sf0.01"


QUERIES = {
    "similarity_topk": similarity_topk,
    "probe_ann_index": probe_ann_index_query,
    "probe_ivf_index": probe_ivf_index_query,
}
