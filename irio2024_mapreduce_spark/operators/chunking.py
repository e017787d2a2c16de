"""Document chunking + near-dup clustering — the last mile of a
training-data pipeline (docs → dedup clusters → canonical docs →
overlapping context-window chunks).

``doc_chunk`` is a pure plan (explode over window starts + slice) —
map-only, linear, oracle-checked. ``dedup_clusters`` is the
iterative-algorithm representative: connected components over the
near-dup pair graph via smallest-label propagation — each iteration
is one join + aggregate, state stays distributed. Bounded
iterations; deterministic. Its edge set is the ORACLE-CHECKED
``dedup_ngram_jaccard`` pair set (plus exact-duplicate edges), which
makes the whole query hash-checkable: DuckDB reproduces the same
edges and closes them with a recursive CTE. (``dedup_near``'s
seeded-MinHash edges would force a rows-only check — same clustering
code, unverifiable edge generator.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irio2024_mapreduce_spark.operators.dedup import (
    ORACLE_SQL as _DEDUP_ORACLE_SQL,
    dedup_ngram_jaccard,
)
from irio2024_mapreduce_spark.sources.tables import (
    load_table,
    load_table_parallel,
)

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token windows (context-window
    shaping for LLM training). Windows start every CHUNK_STRIDE
    tokens; the tail window may be short but is never empty."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    # window start indexes: 1, 1+stride, ... while start <= n
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - 1, F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            toks.alias("toks"),
            F.posexplode(starts).alias("chunk_id", "start"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start"), CHUNK_TOKENS)
            ).alias("chunk_text"),
            F.least(
                F.size("toks") - F.col("start") + 1, F.lit(CHUNK_TOKENS)
            ).cast("long").alias("n_tokens"),
        )
    )


BOILERPLATE_MIN_DOCS = 2


def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detection: token-window chunks that recur
    across >= BOILERPLATE_MIN_DOCS distinct documents (navigation
    bars, license footers, templated paragraphs — the content a
    pretraining pipeline strips because the model would otherwise
    memorize it at its duplication count, not its information value).

    Scale shape: the chunks stream (doc_chunk, map-only 1->N) feeds a
    groupBy on md5(chunk_text) — the shuffle carries the 16-byte
    digest + counters, never chunk bodies, and partial aggregation
    collapses each partition's repeats map-side. Output is the
    boilerplate REGISTRY (one row per offending chunk hash); the
    removal pass is a broadcast anti-join of that registry against
    the chunk stream at write time."""
    chunks = doc_chunk(spark, sf_dir)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_md5"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


MAX_CC_ITERATIONS = 10

# observability: rounds the last dedup_clusters call needed (includes
# the final no-change confirmation round) — read by tests/probes, never
# by query logic
_LAST_CC_ROUNDS = 0


def _ckpt_rdds(df: DataFrame) -> list:
    """JVM RDDs of the ``localCheckpoint`` leaves of ``df``'s logical
    plan; for a ``localCheckpoint(eager=False)`` frame that is its own
    RDD (its plan is a LogicalRDD from creation, before any job runs).
    Held so the CC loop can free checkpoint blocks the moment a later
    materialization makes them dead — local-checkpoint blocks
    otherwise persist until the JVM collects the py4j refs, and loaded
    bench runs showed 9-12 live block sets by late rounds."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return [
        leaf.rdd()
        for leaf in (leaves.apply(k) for k in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    ]


def _doc_rep(docs_raw: DataFrame) -> DataFrame:
    """doc_id → exact-dup representative (min doc_id per sha2(text))
    for the whole corpus — the attachment that maps every member onto
    the collapsed rep graph's labels.

    Shape: the 32-byte (doc_id, hash) rows are materialized once
    (lazy checkpoint) because `reps` and the doc→rep join are two
    consumers of the scan+sha2 pass, which would otherwise run twice
    (corpus-sized at scale)."""
    hashed = docs_raw.select(
        "doc_id", F.sha2("text", 256).alias("_h")
    ).localCheckpoint(eager=False)
    reps = hashed.groupBy("_h").agg(F.min("doc_id").alias("rep"))
    return hashed.join(reps, "_h").select("doc_id", "rep")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs → canonical doc per
    cluster + cluster size. Smallest-label propagation with pointer
    jumping; fixpoint = components.

    **Collapsed-graph CC:** the propagation runs on the exact-dup
    REPRESENTATIVE graph only. The near-dup edge source
    (``dedup_ngram_jaccard``) already collapses byte-identical texts
    and emits pairs between representatives, so every exact d-clique
    is ONE node in the graph — at a 100× replicated corpus the label
    loop touches ~1/100th of the rows a member graph would (measured
    43 s → see SCALE.md), and exact duplicates receive their cluster
    label afterwards through one doc→rep→label join. The fixpoint is
    the member graph's: a component's label is the min rep id, and
    the min rep id IS the min doc id of the whole member set (each rep
    is its clique's min).

    Each iteration is a shuffle-bounded join (edges ⋈ labels) — no
    driver-side graph. Iterations are bounded by near-component
    DIAMETER (small by construction), not corpus size.

    Edges come from the oracle-checked ``dedup_ngram_jaccard`` pair
    set so the component structure is hash-verifiable end-to-end (the
    DuckDB oracle rebuilds the identical edges, adds the exact-dup
    rep↔member edges, and takes their transitive closure with a
    recursive CTE).

    Checkpoint hygiene: when the loop converges, only two checkpoints
    stay persisted — the converged labels (``half``) and ``_doc_rep``'s
    ``hashed``, both read by the final action. The edges, the pair
    generation's checkpoints under them and every earlier round's
    labels are freed as soon as they are dead.
    """
    near_pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs_raw = load_table(spark, sf_dir, "documents")
    doc_rep = _doc_rep(docs_raw)

    edges = (
        near_pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .unionByName(
            near_pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    # localCheckpoint: materialize once and TRUNCATE LINEAGE — without
    # it every iteration's action re-derives the near-dup pair graph
    # from scratch and the label plan doubles per round (the classic
    # iterative-DataFrame blowup). Lazy: the first convergence count
    # triggers it, folding edge materialization into iteration 1's job.
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )

    global _LAST_CC_ROUNDS
    # block bookkeeping: `stale_half` is the previous round's `half`
    # checkpoint (consumed once this round's convergence count
    # materializes the labels built from it); `labels_ckpt` is the
    # current labels frame's checkpoint (consumed once this round's
    # `half` materializes) — freed eagerly instead of holding 2 block
    # sets per round until the JVM collects the py4j references (the
    # dedup_clusters bench transient).
    stale_half = None
    labels_ckpt = None
    for _round in range(MAX_CC_ITERATIONS):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("neighbor_label"))
        )
        # carry the pre-round label through as _old: the convergence
        # check then is a FILTER on the round's own output instead of
        # a corpus-sized join against the previous labels frame
        half = (
            labels.join(
                neighbor_min, labels.doc_id == neighbor_min.src, "left"
            )
            .select(
                "doc_id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("neighbor_label", F.col("label"))
                ).alias("label"),
            )
            # materialize ONCE before the convergence count and the
            # jump self-join below — both jump sides would otherwise
            # instantiate the whole edges⋈labels⋈agg subtree as
            # separate plans (the classic self-join double-subtree);
            # lazy, so the count is still the round's single action
            .localCheckpoint(eager=False)
        )
        # convergence check on the PROPAGATION half: the propagation
        # fixpoint (no label has a smaller closed-neighborhood min) IS
        # the component fixpoint — by induction from each
        # component-min node m (label(m) = m always, its neighbors'
        # fixpoint labels equal m, and so on outward), so
        # no-change-here equals a post-jump no-change check, round for
        # round (the jump only lowers labels a propagation already
        # moved: half.label changed ⇒ new_labels.label changed, and an
        # unchanged half makes the jump the identity). Checking BEFORE
        # the jump skips the final round's jump join + checkpoint —
        # work a post-jump check would throw away.
        #
        # A plain count, not limit(1).count(): Spark names each limit
        # operator's counter field from a JVM-wide sequence
        # (``_limit_counter_N``), so every limit generates a class the
        # generated-class cache can never reuse, two per round. The
        # limit saved no work: the lazy checkpoint materializes each
        # partition of `half` whole before the filter reads it.
        changed = half.filter(F.col("label") != F.col("_old")).count()
        # the count's job materializes `half` (and, by lazy-checkpoint
        # cascade, the previous round's labels it reads), so the
        # previous round's `half` blocks are now dead
        if stale_half is not None:
            stale_half.unpersist(False)
            stale_half = None
        if changed == 0:
            _LAST_CC_ROUNDS = _round + 1
            break
        # this round moved labels: the previous labels blocks have no
        # further consumer (the jump below reads only `half`)
        if labels_ckpt is not None:
            labels_ckpt.unpersist(False)
        # pointer-jumping (label ← label's label): halves the distance
        # to the component minimum each round, so convergence is
        # O(log diameter) instead of O(diameter) — a 10-round budget
        # then covers ~2^10-long near-dup chains
        jump = half.select(
            F.col("doc_id").alias("jdoc"), F.col("label").alias("jlabel")
        )
        new_labels = (
            half.join(jump, half.label == jump.jdoc, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("jlabel", F.col("label"))
                ).alias("label"),
            )
            # lazy checkpoint: the NEXT round's convergence count is
            # the materializing job
            .localCheckpoint(eager=False)
        )
        (stale_half,) = _ckpt_rdds(half)
        (labels_ckpt,) = _ckpt_rdds(new_labels)
        labels = new_labels.select("doc_id", "label")
    else:
        raise RuntimeError(
            "dedup_clusters: label propagation did not converge in "
            f"{MAX_CC_ITERATIONS} iterations — component diameter exceeds "
            "2^iterations; raise MAX_CC_ITERATIONS"
        )
    # converged: `half` is materialized with its lineage truncated, and
    # it carries the final labels (no row changed this round), so the
    # post-loop plan reads it, and the edges, the pair checkpoints they
    # were built from and the labels checkpoint `half` read are dead
    for rdd in [*_ckpt_rdds(edges), *_ckpt_rdds(near_pairs), labels_ckpt]:
        if rdd is not None:
            rdd.unpersist(False)

    # attach every doc to its rep's component label; a rep outside the
    # near graph labels its clique by itself. This is the ONLY
    # corpus-sized step after the (tiny) rep-graph propagation.
    rep_labels = half.select(F.col("doc_id").alias("rep"), "label")
    doc_labels = doc_rep.join(rep_labels, "rep", "left").select(
        "doc_id", F.coalesce("label", F.col("rep")).alias("label")
    )
    per_cluster = doc_labels.groupBy("label").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("canonical_doc"),
    )
    return (
        per_cluster.select(
            F.col("canonical_doc"),
            F.col("cluster_size"),
        )
        .groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.min("canonical_doc").alias("min_canonical"),
        )
        .orderBy("cluster_size")
    )


ORACLE_SQL = {
    "doc_chunk": f"""
        WITH t AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang, toks,
                   unnest(range(1, greatest(len(toks) - 1, 1) + 1,
                                {CHUNK_STRIDE})) AS start,
                   generate_subscripts(range(1, greatest(len(toks) - 1, 1) + 1,
                                {CHUNK_STRIDE}), 1) - 1 AS chunk_id
            FROM t
        )
        SELECT doc_id, lang, chunk_id::BIGINT AS chunk_id,
               array_to_string(toks[start : start + {CHUNK_TOKENS} - 1], ' ')
                   AS chunk_text,
               least(len(toks) - start + 1, {CHUNK_TOKENS})::BIGINT AS n_tokens
        FROM s
    """,
    # Connected components as a recursive CTE: the edge set is the
    # already-oracled dedup_ngram_jaccard pair query (embedded
    # verbatim so the two can never drift) plus exact-duplicate
    # rep↔dup edges; component label = min reachable doc_id —
    # identical to the Spark side's label-propagation fixpoint.
    # Equality joins (not IS NOT DISTINCT FROM) so NULL-text docs get
    # no exact edges, matching Spark's null-dropping equi-join.
    "dedup_clusters": """
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM (
                {NGRAM_PAIRS}
            )
            UNION
            SELECT r.rep AS doc_a, d.doc_id AS doc_b
            FROM documents d
            JOIN (SELECT md5(text) AS h, MIN(doc_id) AS rep
                  FROM documents GROUP BY md5(text)) r
              ON md5(d.text) = r.h AND d.doc_id <> r.rep
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ), nodes AS (
            SELECT DISTINCT src AS doc_id FROM edges
        ), reach AS (
            SELECT doc_id, doc_id AS r FROM nodes
            UNION
            SELECT e.dst AS doc_id, reach.r
            FROM reach JOIN edges e ON e.src = reach.doc_id
        ), labels AS (
            SELECT doc_id, MIN(r) AS label FROM reach GROUP BY doc_id
        ), clusters AS (
            SELECT label, COUNT(*)::BIGINT AS cluster_size,
                   MIN(doc_id) AS canonical_doc
            FROM labels GROUP BY label
        ), singles AS (
            SELECT doc_id AS label, 1::BIGINT AS cluster_size,
                   doc_id AS canonical_doc
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM nodes)
        ), allc AS (
            SELECT * FROM clusters UNION ALL SELECT * FROM singles
        )
        SELECT cluster_size,
               COUNT(*)::BIGINT AS n_clusters,
               MIN(canonical_doc) AS min_canonical
        FROM allc GROUP BY cluster_size ORDER BY cluster_size
    """.replace("{NGRAM_PAIRS}", _DEDUP_ORACLE_SQL["dedup_ngram_jaccard"]),
}

QUERIES = {
    "doc_chunk": doc_chunk,
    "dedup_clusters": dedup_clusters,
}

# Never-registered (driver window full): verified by the local
# harness in tests/test_query_battery.py. The oracle embeds the
# doc_chunk CTE verbatim so the two can never drift.
RETIRED_TWIN_QUERIES = {"boilerplate_chunks": boilerplate_chunks}
RETIRED_TWIN_ORACLES = {
    "boilerplate_chunks": f"""
        WITH t AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang, toks,
                   unnest(range(1, greatest(len(toks) - 1, 1) + 1,
                                {CHUNK_STRIDE})) AS start
            FROM t
        ), chunks AS (
            SELECT doc_id,
                   array_to_string(toks[start : start + {CHUNK_TOKENS} - 1], ' ')
                       AS chunk_text,
                   least(len(toks) - start + 1, {CHUNK_TOKENS})::BIGINT
                       AS n_tokens
            FROM s
        )
        SELECT md5(chunk_text)                  AS chunk_md5,
               COUNT(DISTINCT doc_id)::BIGINT   AS n_docs,
               COUNT(*)::BIGINT                 AS n_occurrences,
               MIN(doc_id)                      AS first_doc,
               MIN(n_tokens)                    AS n_tokens
        FROM chunks
        GROUP BY md5(chunk_text)
        HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    """,
}
