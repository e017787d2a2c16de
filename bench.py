"""Benchmark harness — runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE compact JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "value_r01_comparable_subset": sec, "queries": {name: sec, ...},
     "sf": ..., "load_avg_start": [...], "load_avg_end": [...]}

The per-iteration diagnostics (iteration walls, GC deltas, JIT code
cache, flagged transients) go to a SIDECAR file — $SPARK_GRAFT_BENCH_
DETAIL, default ./BENCH_DETAIL_last.json — NOT stdout. Round 5's
enriched stdout line overflowed the driver's tail capture and the
round's official number was lost ("parsed": null in BENCH_r05.json);
the final stdout line must stay short enough to survive a ~2 KiB tail.

Timing excludes JVM startup (a warm-up action runs first) and driver-
side result transfer (queries execute to completion via the noop
sink, so what's measured is scan + shuffle + compute — the part that
scales to 100 TB).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from irio2024_mapreduce_spark import registry
from irio2024_mapreduce_spark.session import drain_driver_backlog, get_spark

# Representative of every operator family: scan+flatMap+agg, hash agg,
# broadcast & shuffle joins, window w/ frame, time windows, dedup,
# similarity, text analysis, clustering. Keep in sync as new families
# land. NB: the list GREW by five in round 3 (simhash, ngram-jaccard,
# ann, ivf, clusters — so the round-2 candidate-cap/posting-list/
# multi-probe work is regression-guarded) — r03+ totals are not
# comparable to r01/r02 totals; compare per-query times.
HEADLINE = [
    "wordcount",
    "filter_project",
    "agg_groupby",
    "agg_rollup",
    "join_broadcast",
    "join_shuffle",
    "join_outer",
    "window_running",
    "sort_limit_topk",
    "event_sliding",
    "event_session",
    "json_extract",
    "dedup_exact",
    "dedup_near",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "similarity_topk",
    "similarity_ann",
    "similarity_ivf",
    "text_analysis",
    "join_asof",
    "stats_pack",
    "time_rollup",
    "conditional_agg",
    # added r6 when it entered the graded window (r03 precedent: the
    # 26-query total is NOT comparable to the r03-r05 25-query
    # totals; compare per-query times and the r01 subset)
    "dedup_incremental",
    # added r7 when it entered the graded window — 27-query totals are
    # NOT comparable to the r6 26-query totals; compare per-query
    # times and the r01 subset
    "decontaminate",
    # added r8 when they entered the graded window (29-query totals
    # not comparable to r7's 27; compare per-query + the r01 subset).
    # dedup_simhash stays ABOVE despite its r8 retirement from the
    # driver window: it's resolved from registry.retired_queries() so
    # the candidate-cap perf guard keeps its cross-round series.
    "bm25_search",
    "quality_funnel",
    # added r9 when it took the graded near-dedup slot (30-query
    # totals not comparable to r8's 29). dedup_near stays ABOVE
    # despite its r9 retirement (resolved from
    # registry.retired_queries()) — it anchors the R01_COMPARABLE
    # subset and the xxhash64-family perf series.
    "dedup_near_md5",
    # added r12 when it took the graded ANN slot (31-query totals not
    # comparable to r11's 30). similarity_ann stays ABOVE despite its
    # retirement (resolved from registry.retired_queries())
    # — it anchors the LSH-family perf series; this entry measures
    # the STORED-index probe (fixture build amortized: first
    # iteration builds, min-of-N reports the cached-probe cost, which
    # is the production steady state).
    "probe_ann_index",
    # added r13 when it took the graded IVF slot (32-query totals not
    # comparable to r12's 31). similarity_ivf stays ABOVE despite its
    # retirement (resolved from registry.retired_queries())
    # — it anchors the IVF-family perf series; this entry measures
    # the STORED-index probe (fixture build amortized, same
    # discipline as probe_ann_index).
    "probe_ivf_index",
]

# The 20 queries HEADLINE contained through rounds 1-2 — their
# subtotal is emitted separately so r03+ artifacts stay directly
# comparable to BENCH_r01/r02 totals despite the five added queries.
R01_COMPARABLE = [
    "wordcount",
    "filter_project",
    "agg_groupby",
    "agg_rollup",
    "join_broadcast",
    "join_shuffle",
    "join_outer",
    "window_running",
    "sort_limit_topk",
    "event_sliding",
    "event_session",
    "json_extract",
    "dedup_exact",
    "dedup_near",
    "similarity_topk",
    "text_analysis",
    "join_asof",
    "stats_pack",
    "time_rollup",
    "conditional_agg",
]

# report min of N — steady-state, post-JIT, robust to background load
ITERATIONS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

# canary-normalization constants (shared by compute_load_flags and the
# artifact writer): CANARY_REF_SEC is the frozen reference point — the
# median idle-host COLD canary observed across the r7 artifacts
# (0.24-0.26 s band; definition in SCALE.md). Idle-host cold canaries
# across r7-r10 artifacts measured 0.252-0.322, so 1.5× the reference
# separates host-speed jitter from genuine contention.
CANARY_REF_SEC = 0.250
# r14 (VERDICT r13 item 3): the STEADY (warm-JIT, interleaved) canary
# reference — the median steady-median across the seven UNFLAGGED
# r11+r12 idle sidecars (0.150-0.168 band; this round's host runs
# 0.18-0.21). Per-query times normalized by
# CANARY_STEADY_REF_SEC / canary_steady_median are host-speed
# comparable across rounds: replaying this over the r12 (clean) and
# r13 (all load-flagged) sidecar pairs brings untouched queries to a
# median ratio of 1.02 where the raw seconds read a phantom
# 1.19-1.34× regression (tools/validate_canary_norm.py). NEVER mix
# this with the COLD reference: cold canaries measure JVM-cold state and
# over-correct (0.33 cold vs 0.19 steady on the same host).
CANARY_STEADY_REF_SEC = 0.164
LOAD_FLAG = 4.0
COLD_DEVIATION = 1.5
DRIFT_FLAG = 1.35
WARMUP_SAMPLES = 5


def compute_load_flags(
    load_start1: float,
    canary: float,
    series_vals: list[float],
    load_mid1: float | None = None,
    mid_canary: float | None = None,
) -> dict:
    """The bench's contention self-flag — pure so tests can drive it
    with synthetic profiles. r10 verdict item 3: the old criterion
    (steady-tail max/min spread > 2×) fired on EVERY run including
    idle ones (single canary samples that land beside a heavy query's
    GC spike 2-3× routinely), so it protected nothing. The new
    criteria are each robust to single-sample noise:

    * ``load_start`` — the pre-session 1-min load average (sustained
      load already present);
    * ``cold_dev`` — the upfront min-of-3 COLD canary deviates > 1.5×
      from the frozen idle-host reference (sustained load at start,
      or a genuinely slower machine — either way the raw seconds are
      not comparable);
    * ``midrun_drift`` — the MEDIANS of the steady tail's two
      chronological halves diverge > 1.35× (load that arrived
      mid-battery; medians, not extremes, so one GC-adjacent sample
      cannot fire it — idle-host halves measure within ~1.1×);
    * ``early_contended`` — the warm-up window's worst sample exceeds
      3× the steady median (JIT warm-up measures ≤ ~2.2× steady on an
      idle host; 3× means something else was running during the only
      window the tail excludes);
    * ``load_mid`` / ``mid_dev`` — the START criteria RE-SAMPLED at
      the battery midpoint (r11 verdict item 3: load that arrives
      right after warm-up and stays FLAT inflates both half-medians
      equally, so midrun_drift cannot see it, and the start samples
      were clean — the evasion window). Same absolute thresholds:
      1-min load average > LOAD_FLAG, min-of-3 fixed-work canary >
      1.5× the frozen cold reference. The midpoint canary is WARM
      (post-JIT), which on an idle host runs FASTER than the cold
      reference — so the threshold only fires on genuine contention,
      never on JIT state. Both criteria are off (None) for artifacts
      recorded before the midpoint sampling existed.

      r15 (VERDICT r14 item 9 + the r14 final4/cpus8 self-load
      finding): the midpoint 1-min load average is PARTIALLY
      SELF-TRIGGERED — the bench's own 32-thread bursts alone push it
      past LOAD_FLAG on a genuinely idle host (measured: 4.1 at the
      midpoint of an 8-core run with nothing else running; 6.33 on
      the idle-host final4 whose every compute criterion was clean).
      ``load_mid`` therefore only fires when the midpoint WARM canary
      FAILS to prove the compute uncontended: if the min-of-3 warm
      canary runs at or below the COLD idle reference, the CPU was
      demonstrably free at the sampled instant and the OS load number
      is attributed to our own bursts. The ungated boolean is kept as
      ``load_mid_raw`` so a reader can re-apply the old rule.

    Returns the per-criterion booleans, the combined flag, and the
    half-medians (the drift bounds the normalized interval)."""
    steady = series_vals[WARMUP_SAMPLES:] or list(series_vals)
    s_sorted = sorted(steady)
    c_med = s_sorted[len(s_sorted) // 2] if s_sorted else canary
    half = len(steady) // 2
    first, second = steady[:half] or steady, steady[half:] or steady
    m1 = sorted(first)[len(first) // 2]
    m2 = sorted(second)[len(second) // 2]
    drift = max(m1, m2) / max(min(m1, m2), 1e-9)
    early = series_vals[:WARMUP_SAMPLES]
    flags = {
        "load_start": load_start1 > LOAD_FLAG,
        "cold_dev": canary > COLD_DEVIATION * CANARY_REF_SEC,
        "midrun_drift": drift > DRIFT_FLAG,
        "early_contended": bool(early) and max(early) > 3 * c_med,
        "load_mid": (
            load_mid1 is not None
            and load_mid1 > LOAD_FLAG
            and (mid_canary is None or mid_canary > CANARY_REF_SEC)
        ),
        "mid_dev": (
            mid_canary is not None
            and mid_canary > COLD_DEVIATION * CANARY_REF_SEC
        ),
    }
    return {
        **flags,
        "flagged": any(flags.values()),
        # ungated midpoint load boolean (diagnostic only — NOT part of
        # `flagged`; see the load_mid self-load note above)
        "load_mid_raw": load_mid1 is not None and load_mid1 > LOAD_FLAG,
        "steady_median": round(c_med, 3),
        "half_medians": [round(m1, 3), round(m2, 3)],
        "drift": round(drift, 3),
    }


def run_once(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    # sample BEFORE the Spark session exists: this is the background
    # load a reader needs to judge the artifact — sampled at the end
    # it would mostly measure the bench's own CPU burn
    load_start = [round(x, 2) for x in os.getloadavg()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # no stage-progress \r noise in the artifact tail: the driver
    # captures ~2 KiB of stdout and the final line must stay clean
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # retired-but-still-benched queries (perf series continuity across
    # driver-window retirements); a registered name wins
    qs = {**registry.retired_queries(), **registry.queries()}

    # warm-up: pay JVM/codegen init outside the timings
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # machine-speed canary: a FIXED pure-JVM workload (no I/O, no
    # shuffle — codegen'd range+sum over 32 partitions). Cross-round
    # totals on this box swing ±25% with host contention/frequency
    # (measured r7: three same-HEAD runs spread 9.6-12.5 s on the r01
    # subset); dividing by the canary gives a reader a
    # machine-normalized comparison the raw seconds can't. r9 verdict
    # item 6: ONE up-front batch missed sustained load that arrived
    # mid-battery (a 0.252 canary in front of a load_avg-9.8 run), so
    # the canary is now ALSO sampled between every headline query —
    # the series is the sustained-speed evidence, and the normalized
    # subset is reported as a [best, worst] interval over it.
    def run_canary() -> float:
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).selectExpr(
            "sum(id % 7 + id % 11)"
        ).collect()
        return time.perf_counter() - t0

    canary_times = [run_canary() for _ in range(3)]
    canary = round(min(canary_times), 3)

    missing = [name for name in HEADLINE if name not in qs]
    if missing:
        raise SystemExit(
            f"bench: headline queries missing from registry: {missing} — "
            "a silent skip would shrink the reported total and read as a "
            "speedup"
        )
    drifted = [name for name in R01_COMPARABLE if name not in HEADLINE]
    if drifted:
        raise SystemExit(
            f"bench: r01-comparable queries missing from HEADLINE: "
            f"{drifted} — a shrunken subtotal would read as a cross-round "
            "speedup"
        )
    results: dict[str, float] = {}
    # transient localization (VERDICT r4 item 4): one-off multi-second
    # spikes on untouched queries have appeared in single runs across
    # rounds (dedup_simhash 16.6 s vs a 1.7-2.6 s band; an earlier
    # same-class outlier is in SCALE.md). min-of-N already keeps them
    # out of the reported numbers; this records the evidence so the
    # next occurrence localizes itself instead of needing a judge
    # re-run: per-iteration times for every query, and for any query
    # whose max/min spread exceeds TRANSIENT_RATIO, one extra timed
    # attempt + the load average at detection time.
    TRANSIENT_RATIO = 3.0

    def jvm_code_cache_mb() -> float:
        """Used bytes across the JIT CodeHeap pools. Whole-stage
        codegen mints fresh classes whenever a plan differs (and
        checkpoint RDD ids make repeat invocations differ), so a long
        multi-query battery can fill the code cache; when it fills,
        the JIT stops compiling and hot loops run interpreted until
        the sweeper frees space — a progressive-slowdown-then-recover
        signature. Sampled per transient to confirm/refute."""
        pools = sc._jvm.java.lang.management.ManagementFactory\
            .getMemoryPoolMXBeans()
        used = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
                used += p.getUsage().getUsed()
        return round(used / 1e6, 1)

    def jvm_gc_ms() -> int:
        """Cumulative stop-the-world GC time of the (local-mode) JVM —
        in local[N] the driver JVM IS every executor, so a GC pause
        here stalls all 32 task threads at once. Per-iteration deltas
        discriminate 'the JVM was collecting' from 'the scheduler or
        OS stalled us' when a transient fires."""
        beans = sc._jvm.java.lang.management.ManagementFactory\
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size()))

    sc = spark.sparkContext
    iteration_times: dict[str, list[float]] = {}
    iteration_gc_ms: dict[str, list[int]] = {}
    code_cache_mb: dict[str, float] = {}
    transients: dict[str, dict] = {}
    # build-vs-probe decomposition of the stored-index fixture
    # queries (r12 verdict item 4): their headline wall conflates the
    # cached fixture BUILD with the point-read PROBE the name
    # advertises; the fixtures log their build-phase wall per call and
    # the sidecar reports wall − build = probe so the "point-read"
    # claim is a recorded number, not prose
    from irio2024_mapreduce_spark.operators import ann_index as _ann_ix
    from irio2024_mapreduce_spark.operators import ivf_index as _ivf_ix

    FIXTURE_LOGS = {
        "probe_ann_index": _ann_ix.FIXTURE_BUILD_LOG,
        "probe_ivf_index": _ivf_ix.FIXTURE_BUILD_LOG,
    }
    stored_probe_decomposition: dict[str, dict] = {}
    canary_series: dict[str, float] = {}
    mid_canary: float | None = None
    load_mid: list[float] | None = None
    for qi, name in enumerate(HEADLINE):
        if qi == len(HEADLINE) // 2:
            # battery-midpoint re-sample of the START criteria (r11
            # verdict item 3): min-of-3 canary + load average, judged
            # by the same absolute thresholds — closes the window
            # where flat load arriving after warm-up evades both the
            # clean start samples and the half-median drift
            mid_canary = round(min(run_canary() for _ in range(3)), 3)
            load_mid = [round(x, 2) for x in os.getloadavg()]
        # interleaved canary: one fixed-work sample right before each
        # query, OUTSIDE its timed iterations — 30 samples across the
        # battery catch load that arrives mid-run
        canary_series[name] = round(run_canary(), 3)
        # Full drain (Python GC + JVM nudge + cleaner settle) BETWEEN
        # queries: frees the previous query's dead checkpoint blocks
        # off-window. Between ITERATIONS only the Python-side gc runs —
        # the JVM nudge enqueues async ContextCleaner work whose RPC
        # burst otherwise lands inside the next timed window (measured
        # ~1.5-2× tail inflation when the full drain ran per
        # iteration). Root cause write-up: SCALE.md round-5 — py4j
        # detach storms firing MID-build inflate wall time 3-30×; both
        # drains exist to keep that cost out of the timings.
        drain_driver_backlog(spark)
        if name in FIXTURE_LOGS:
            FIXTURE_LOGS[name].clear()
        times: list[float] = []
        gc_deltas: list[int] = []
        for _ in range(ITERATIONS):
            gc.collect()
            gc0 = jvm_gc_ms()
            t0 = time.perf_counter()
            run_once(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
            gc_deltas.append(jvm_gc_ms() - gc0)
        # the transient signature is a LATER iteration much slower
        # than something that already ran fast — compare each
        # iteration to the best of the EARLIER ones only. (Comparing
        # to the overall min would also flag slow-start patterns:
        # codegen warm-up can stretch over iters 0-1 and then drop,
        # which is normal and not the spike class we're hunting.)
        spike = ITERATIONS > 1 and any(
            t > TRANSIENT_RATIO * min(times[:i])
            for i, t in enumerate(times)
            if i >= 1
        )
        if spike:
            # diagnostic retry ONLY — it stays out of `times`, so a
            # spiked query reports min over the same ITERATIONS
            # attempts as a clean one (a retry folded into the min
            # would bias exactly the queries that spiked downward in
            # cross-round comparisons)
            gc.collect()
            gc0 = jvm_gc_ms()
            t0 = time.perf_counter()
            run_once(qs[name](spark, sf_dir))
            retry = time.perf_counter() - t0
            retry_gc = jvm_gc_ms() - gc0
            transients[name] = {
                "iters": [round(t, 3) for t in times],
                "retry_sec": round(retry, 3),
                "retry_gc_ms": retry_gc,
                "gc_ms_per_iter": list(gc_deltas),
                "code_cache_used_mb": jvm_code_cache_mb(),
                "persistent_rdd_blocks": sc._jsc.sc()
                .getPersistentRDDs().size(),
                "load_avg_at_detect": [
                    round(x, 2) for x in os.getloadavg()
                ],
            }
        iteration_times[name] = [round(t, 3) for t in times]
        iteration_gc_ms[name] = gc_deltas
        code_cache_mb[name] = jvm_code_cache_mb()
        results[name] = round(min(times), 3)
        if name in FIXTURE_LOGS and len(FIXTURE_LOGS[name]) >= len(times):
            # one log entry per fixture call; a transient retry adds
            # one more — align on the first len(times) entries
            builds = FIXTURE_LOGS[name][: len(times)]
            probes = [max(w - b, 0.0) for w, b in zip(times, builds)]
            stored_probe_decomposition[name] = {
                "build_sec_per_iter": [round(b, 3) for b in builds],
                "probe_sec_per_iter": [round(x, 3) for x in probes],
                # the steady-state number: probe wall with a cached
                # fixture (the production point-read cost)
                "probe_sec": round(min(probes), 3),
            }

    total = round(sum(results.values()), 3)
    # no membership guard: a missing name must raise (KeyError), not
    # silently shrink the subtotal into a phantom speedup
    r01_subset = round(sum(results[n] for n in R01_COMPARABLE), 3)
    load_end = [round(x, 2) for x in os.getloadavg()]

    # sidecar carries the full evidence trail: per-iteration walls,
    # GC deltas, JIT code-cache growth, flagged spikes (spread > 3x
    # within one query, plus one untimed diagnostic retry)
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL_last.json"),
    )
    # canary-normalized subset (VERDICT r7 item 7): subset scaled by
    # canary_ref/canary so cross-round comparisons don't depend on
    # prose arguments about host noise. COLD/COLD only: the upfront
    # min-of-3 cold canary against the frozen cold reference — the
    # r7-r9 methodology the 0.250 was calibrated on. (The old sidecar
    # also divided the WARM-tail median by the cold reference, which
    # produced a nonsense 16.9 s "normalized" reading of a 10 s run —
    # r10 verdict item 3; that field is gone.)
    series_vals = list(canary_series.values())
    lf = compute_load_flags(
        load_start[0], canary, series_vals,
        load_mid1=load_mid[0] if load_mid else None,
        mid_canary=mid_canary,
    )
    load_flagged = lf["flagged"]
    normalized = round(r01_subset * CANARY_REF_SEC / canary, 3)
    # steady-normalized per-query series (r14, VERDICT r13 item 3):
    # one global factor from the steady canary MEDIAN — robust to
    # single-sample noise, warm-scale on both sides of the division
    steady_factor = CANARY_STEADY_REF_SEC / max(lf["steady_median"], 1e-9)
    queries_steady_normalized = {
        q: round(v * steady_factor, 3) for q, v in results.items()
    }
    subset_steady_norm = round(r01_subset * steady_factor, 3)
    # the normalized interval: the cold-anchored point widened by the
    # measured SUSTAINED mid-run speed drift (the steady tail's
    # half-medians' ratio). Idle-host drift is ~1.1×, so the interval
    # stays tight; a drifting run widens it AND flags itself.
    bounds = [
        round(normalized / lf["drift"], 3),
        round(normalized * lf["drift"], 3),
    ]
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "iterations": ITERATIONS,
                "machine_canary_sec": canary,
                "canary_ref_sec": CANARY_REF_SEC,
                "subset_canary_normalized_sec": normalized,
                "subset_normalized_bounds_sec": bounds,
                # steady-normalized series (r14): cross-round
                # per-query comparison that survives host drift —
                # validated over the r12/r13 sidecar pairs
                # (tools/validate_canary_norm.py)
                "canary_steady_ref_sec": CANARY_STEADY_REF_SEC,
                "queries_steady_normalized": queries_steady_normalized,
                "subset_steady_normalized_sec": subset_steady_norm,
                "canary_series": canary_series,
                # steady-tail diagnostics (warm-JIT scale — NOT
                # comparable to the cold reference; never divide one
                # by the other)
                "canary_steady_median_sec": lf["steady_median"],
                "canary_half_medians_sec": lf["half_medians"],
                "canary_midrun_drift": lf["drift"],
                "load_flag_criteria": {
                    k: lf[k]
                    for k in (
                        "load_start",
                        "cold_dev",
                        "midrun_drift",
                        "early_contended",
                        "load_mid",
                        "load_mid_raw",
                        "mid_dev",
                    )
                },
                "mid_canary_sec": mid_canary,
                "load_avg_mid": load_mid,
                "load_flagged": load_flagged,
                "iteration_times": iteration_times,
                "stored_probe_decomposition": stored_probe_decomposition,
                "iteration_gc_ms": iteration_gc_ms,
                "code_cache_mb_after": code_cache_mb,
                "transients": transients,
                "sf": sf_dir,
                "load_avg_start": load_start,
                "load_avg_end": load_end,
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    # the COMPACT summary is the FINAL stdout line — keep it that way
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                # the rounds-1/2 HEADLINE subtotal — compare THIS to
                # BENCH_r01/r02 "value"; the full total covers 5 more
                # queries than those artifacts did
                "value_r01_comparable_subset": r01_subset,
                "queries": results,
                "transient_count": len(transients),
                # fixed-work JVM canary (see above): normalize
                # cross-round totals as value / machine_canary_sec;
                # load_flagged marks artifacts run under contention
                # (pre-session load, cold-canary deviation, mid-run
                # drift, warm-up contention) — don't anchor
                # cross-round claims on flagged runs
                "machine_canary_sec": canary,
                "subset_canary_normalized_sec": normalized,
                # steady-median normalization (r14): the defensible
                # cross-round number when the host is load-flagged —
                # full per-query normalized series in the sidecar
                "canary_steady_median_sec": lf["steady_median"],
                "subset_steady_normalized_sec": subset_steady_norm,
                "load_flagged": load_flagged,
                # stored-index fixture split (r15, VERDICT r14 item 8):
                # the headline probe_* numbers are min-of-N walls with
                # the fixture build amortized; this surfaces the
                # build/probe decomposition in the graded line itself
                # (full per-iteration trail stays in the sidecar)
                "stored_probe": {
                    q: {
                        "build": d["build_sec_per_iter"][0],
                        "probe": d["probe_sec"],
                    }
                    for q, d in stored_probe_decomposition.items()
                },
                "detail": os.path.basename(detail_path),
                "sf": sf_dir,
                # the resolved local[N] width: a run that ignored
                # $SPARK_GRAFT_CPUS shows here, not only in its walls
                "cpus": sc.defaultParallelism,
                # background load swings single runs 2×+ (see SCALE.md
                # bench methodology) — the pre-session sample is the
                # honest contention evidence
                "load_avg_start": load_start,
                "load_avg_end": load_end,
            }
        )
    )


if __name__ == "__main__":
    main()
