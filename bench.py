"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop writer (full computation, no
driver-side collect) — what a cluster job would pay, minus the sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RETRY_FACTOR = 2.0  # best-of-N > factor * expected → suspect, retry
MAX_EXTRA_SAMPLES = 4  # per-query cap on guard-triggered re-runs


def load_expected(path: str, sf: str | float | None = None) -> dict:
    """Best-known clean per-query seconds (committed BENCH_EXPECTED.json);
    {} when absent — or when the file's ``sf`` doesn't match the
    measured scale (an sf1 run legitimately exceeds 2x the sf0.1
    expectations on every query; flagging that would burn 4 extra
    samples per query and ship a wall of false suspects) — so the
    guard degrades to a no-op."""
    try:
        with open(path) as f:
            d = json.load(f)
        if sf is not None and "sf" in d:
            try:  # numeric compare: "sf": 1 must match sf=1.0
                if float(d["sf"]) != float(sf):
                    return {}
            except (TypeError, ValueError):
                if str(d["sf"]) != str(sf):
                    return {}
        return d.get("queries", {})
    except Exception:
        return {}


def needs_retry(best_sec: float, expected_sec) -> bool:
    """Deviation guard: the r9 artifact published 5-7x warmup/JIT-epoch
    fictions on queries whose code had not changed. A best-of-N that
    exceeds RETRY_FACTOR x the best-known clean time is presumed a
    transient epoch (JIT deopt, GC storm, invisible host contention —
    steal can read zero through all of these) and re-sampled; every
    discarded sample stays in the artifact's ``runs`` so the selection
    is auditable."""
    if not expected_sec or expected_sec <= 0:
        return False
    return best_sec > RETRY_FACTOR * float(expected_sec)


DRIFT_MEDIAN_STEAL = 1.25  # median ratio above this + nonzero steal → drift
DRIFT_MEDIAN_ALWAYS = 1.40  # above this the artifact is suspect even at
# zero recorded steal (steal reads zero through JIT deopt epochs, GC
# storms and same-host cgroup contention — r10's "mixed epoch" case)


def artifact_drift(
    times: dict, expected: dict, steal_total: int,
    steal_available: bool = True,
) -> dict | None:
    """Whole-artifact systematic-drift check (r10 verdict item 5).

    The per-query deviation guard catches individual spikes but not a
    UNIFORMLY slow epoch: r10 shipped an artifact where every query
    drifted 1.3-1.5x vs the best-known clean floor (2365 steal
    jiffies) without any single query crossing the 2x retry gate.
    Flag the ARTIFACT when the median per-query ratio vs
    BENCH_EXPECTED exceeds DRIFT_MEDIAN_STEAL with nonzero steal, or
    DRIFT_MEDIAN_ALWAYS regardless — the publication protocol then
    says discard and re-run on a quiet epoch. Returns the diagnostic
    dict (median_ratio, n_compared, steal) when drifting, else None;
    fewer than 3 comparable queries → None (a median of 1-2 ratios is
    noise, and the guard must not fire on partial/expected-less runs).

    ``steal_available=False`` means the host exposes no steal counter
    (every sample read -1, summed as zero) — contention is then
    INVISIBLE, so the moderate band flags unconditionally rather than
    letting a uniform 1.3x epoch pass until 1.40x (r11 ADVICE).
    """
    ratios = sorted(
        times[q] / float(expected[q])
        for q in times
        if expected.get(q) and float(expected[q]) > 0 and times[q] > 0
    )
    if len(ratios) < 3:
        return None
    mid = len(ratios) // 2
    med = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2.0
    )
    if med > DRIFT_MEDIAN_ALWAYS or (
        med > DRIFT_MEDIAN_STEAL
        and (steal_total > 0 or not steal_available)
    ):
        return {
            "median_ratio": round(med, 3),
            "n_compared": len(ratios),
            "steal_jiffies_total": steal_total,
            "steal_available": steal_available,
        }
    return None


DEFERRED_SAMPLES = 3  # end-of-run re-measure depth per still-suspect query


def deferred_remeasure(suspect, times, runs, expected, sample_fn):
    """One-shot end-of-run re-measure for still-suspect queries (r11
    verdict item 6: self-healing suspect protocol).

    A query that stays >RETRY_FACTOR x expected through all
    MAX_EXTRA_SAMPLES immediate retries usually sat inside a transient
    contended window (host steal burst, GC storm); by the END of the
    run — minutes later — that window has typically moved. Take
    DEFERRED_SAMPLES fresh samples per suspect via
    ``sample_fn(name) -> (sec, steal_delta)``, append them to ``runs``
    (so the selection stays auditable), refresh the best-of in
    ``times``, and return ``(still_suspect, cleared)``. Mutates
    ``times``/``runs`` in place; callers recompute totals after.
    """
    cleared = []
    for name in list(suspect):
        for _ in range(DEFERRED_SAMPLES):
            sec, steal = sample_fn(name)
            runs[name].append([round(sec, 3), steal])
            if sec < times[name]:
                times[name] = round(sec, 3)
        if not needs_retry(times[name], expected.get(name)):
            cleared.append(name)
    return [q for q in suspect if q not in cleared], cleared


def calibration_sec() -> float:
    """~2s pinned-seed single-process CPU workload timed on THIS host
    epoch: fixed op count, fixed seed, no BLAS threading (elementwise
    numpy only), so the recorded seconds quantify the run's host-speed
    epoch. Artifacts from different rounds divide by this to separate
    engine changes from the documented ±25% host-epoch term."""
    import numpy as np

    rng = np.random.default_rng(12345)
    a = rng.standard_normal(4_000_000)
    b = rng.standard_normal(4_000_000)
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(60):
        acc += float(np.sum(a * a + b))
        a, b = b, a
    dt = time.perf_counter() - t0
    assert acc == acc  # keep the loop un-elidable
    return round(dt, 3)


def _calib_worker(_i: int) -> float:
    """Per-process slice of the parallel probe: HALF the single-probe
    op count of the SAME pinned-seed kernel (module-level so the fork
    pool can pickle it)."""
    import numpy as np

    rng = np.random.default_rng(12345)
    a = rng.standard_normal(4_000_000)
    b = rng.standard_normal(4_000_000)
    acc = 0.0
    for _ in range(30):
        acc += float(np.sum(a * a + b))
        a, b = b, a
    return acc


def _calib_noop(_i: int) -> int:
    return 0


def calibration_parallel_sec(workers: int | None = None) -> float:
    """The SAME calibration kernel on every core at once (one forked
    process per CPU, half the single-probe op count each) → wall
    seconds for all workers to finish.

    Exists because the single-process stamp is blind to a whole host
    dimension (r15 postmortem): ``fts_cjk_substr`` — a 32-thread
    regex-heavy scan — ran 1.7× apart across two epochs whose
    single-thread calibrations read EQUAL (0.58 vs 0.573), proven
    code-equal by a same-epoch A/B. All-core frequency scaling, SMT
    contention, memory-bandwidth saturation and co-tenant load move
    multi-thread throughput independently of single-thread speed; this
    probe makes that term mechanically visible in every artifact.
    The number is an EPOCH INDEX, not a scaling efficiency (worker
    array generation sits inside the timing; the probe is deliberately
    bandwidth-saturating — ~7s on a quiet 32-core epoch): cross-round
    comparisons of 32-thread query rows are only valid between
    artifacts whose BOTH stamps agree. A tiny no-op map warms the
    pool first so fork/import cost stays outside the timing."""
    import multiprocessing as mp

    n = workers or (os.cpu_count() or 1)
    ctx = mp.get_context("fork")
    with ctx.Pool(n) as pool:
        pool.map(_calib_noop, range(n))
        t0 = time.perf_counter()
        pool.map(_calib_worker, range(n))
        dt = time.perf_counter() - t0
    return round(dt, 3)


HEADLINE = [
    "fts_term",
    "fts_multiscript",
    "fts_cjk_substr",
    "fts_trigram_substr",
    "fts_bool",
    "fts_bm25",
    "meta_where_numeric",
    "order_paginate",
    "vector_knn",
    "vector_knn_batch",
    "ivf_knn",
    "srp_knn",
    "dedup_embedding_ivf",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_clusters",
    "text_quality",
    "text_langid",
    "events_hourly",
    "events_sessionize",
    "events_asof",
    "lineitem_pricing",
    "revenue_by_nation",
    "top_orders_revenue",
    "part_small_qty_revenue",
    "page_keyset_deep",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # 32 executor threads on an 8g heap GC-storm under the sketch-heavy
    # queries (multi-second stop-the-world pauses landing on random
    # queries run-to-run); the box has 128 GiB — size the single local
    # JVM like the executor fleet it stands in for.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import tempfile

    from pyspark.sql import functions as F

    from sifts_spark.caching import release_all
    from sifts_spark.operators import search as S
    from sifts_spark.plans.catalog import (
        PREBUILT,
        QUERIES,
        fts_term,
        top_orders_revenue,
    )

    # Rotation retirees keep their headline bench rows (cross-round
    # floor comparability) via direct import: top_orders_revenue ceded
    # its oracle slot in r13, fts_term in r14 (to fts_multiscript,
    # which joins HEADLINE with its own floor).
    RUNNERS = {
        **QUERIES,
        "top_orders_revenue": top_orders_revenue,
        "fts_term": fts_term,
    }
    from sifts_spark.session import get_spark
    from sifts_spark.sources.tables import load_table

    spark = get_spark(
        "sifts-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path AND the Python/Arrow worker pool once
    # outside timing (first pandas_udf stage pays worker fork + pandas
    # import; steady-state queries don't).
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(256).repartition(int(cpus)).select(
        _warm(F.col("id").cast("double"))
    ).write.format("noop").mode("overwrite").save()

    # Index build timed SEPARATELY: steady-state fts_bm25 reads the
    # on-disk postings (write_postings output), like a real deployment.
    setup: dict[str, float] = {}
    idx_dir = tempfile.mkdtemp(prefix="sifts_bench_postings_")
    t0 = time.perf_counter()
    docs = load_table(spark, sf_dir, "documents")
    S.write_postings(S.build_postings(docs, "doc_id", "text"), idx_dir)
    setup["fts_index_build"] = round(time.perf_counter() - t0, 3)
    PREBUILT["postings"] = spark.read.parquet(idx_dir)
    # Corpus stats once at index time (as a Collection memoizes them
    # per snapshot), so timed fts_bm25 runs measure query cost only.
    t0 = time.perf_counter()
    PREBUILT["stats"] = S.corpus_stats(PREBUILT["postings"])
    setup["fts_stats_build"] = round(time.perf_counter() - t0, 3)

    # MinHash pairs materialized ONCE (timed as setup): dedup_minhash
    # times sketch+LSH+verify; dedup_clusters then times CLUSTERING on
    # the persisted pairs — a real pipeline clusters stored pairs, not
    # regenerated ones, and without this split the clusters entry just
    # re-paid the minhash entry's whole cost as a hidden prefix.
    from sifts_spark.operators import dedup as D

    pairs_dir = tempfile.mkdtemp(prefix="sifts_bench_pairs_")
    t0 = time.perf_counter()
    D.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_size=3, jaccard_threshold=0.5
    ).write.mode("overwrite").parquet(pairs_dir)
    setup["minhash_pairs_build"] = round(time.perf_counter() - t0, 3)
    release_all()
    PREBUILT["minhash_pairs"] = spark.read.parquet(pairs_dir)
    PREBUILT["minhash_pairs_sf"] = sf_dir

    # JIT warmup (JMH-style): run each headline query once at sf0.001 so
    # whole-stage-codegen compilation happens OUTSIDE the timed region —
    # the timed numbers are steady-state throughput, which is what a
    # long-running cluster job pays. Data caches are released; only
    # compiled code is reused.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for name in HEADLINE:
            try:
                RUNNERS[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
            release_all()
        setup["codegen_warmup_sf0.001"] = round(time.perf_counter() - t0, 3)

    # AT-TARGET warmup: one untimed pass of every headline query at the
    # measured sf_dir. sf0.001 warmup compiles most codegen units, but
    # the sf0.1 plans can differ (file-split counts, AQE re-plans,
    # broadcast thresholds), and r9 proved a first-compile landing
    # inside the timed region publishes multi-x fictions. After this
    # pass every timed sample is steady-state.
    t0 = time.perf_counter()
    for name in HEADLINE:
        try:
            RUNNERS[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        release_all()
    setup["target_warmup"] = round(time.perf_counter() - t0, 3)

    def steal_jiffies() -> int:
        # /proc/stat cpu line, field 8 = steal. Host CPU-steal bursts
        # are the main run-to-run poison on shared boxes; recording the
        # delta per timed run makes every number auditable instead of
        # "always check steal manually" (SURVEY §6.1).
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except Exception:
            return -1

    # Best-of-3 per query: single-shot numbers swing 2-7x run-to-run
    # (JVM GC pauses, Arrow worker pool churn, AQE re-plans, and
    # multi-second host CPU-steal bursts that can poison BOTH runs of a
    # best-of-2); the min of three back-to-back runs is the steady-state
    # throughput a long-running cluster job pays, which is the quantity
    # this bench exists to track. ``runs`` carries every (sec, steal)
    # sample so the best-of selection is auditable after the fact.
    # Floor-file per scale (r15): BENCH_EXPECTED.json carries the sf0.1
    # floors; other scales get a mechanical deviation guard too when a
    # BENCH_EXPECTED_sf{sf}.json exists (sf1 shipped r15 — before it,
    # sf1 regressions were only prose-audited in SURVEY §6.1; the r14
    # minhash 6.3→11.2s regression was caught only because the builder
    # chose to re-measure). load_expected still sf-gates the content,
    # so a mismatched file degrades to no-op rather than mis-flagging.
    _here = os.path.dirname(os.path.abspath(__file__))
    _exp_path = os.path.join(_here, "BENCH_EXPECTED.json")
    _alt = os.path.join(_here, f"BENCH_EXPECTED_sf{sf}.json")
    if os.path.exists(_alt):
        _exp_path = _alt
    expected = load_expected(
        _exp_path,
        sf=float(sf) if sf.replace(".", "").isdigit() else sf,
    )
    calib = calibration_sec()
    calib_par = calibration_parallel_sec()
    calib_workers = os.cpu_count() or 1

    def measure(name):
        """One timed noop-sink run of a headline query → (sec, steal
        delta). The SINGLE sampling path: the best-of loop and the
        deferred suspect re-measure share it, so their samples stay
        protocol-identical — a deferred sample taken under a different
        protocol could not honestly clear the suspect it re-judges."""
        s0 = steal_jiffies()
        t0 = time.perf_counter()
        RUNNERS[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        st = steal_jiffies() - s0
        release_all()  # operator caches don't outlive the query
        return dt, st

    times: dict[str, float] = {}
    runs: dict[str, list] = {}
    retried: dict[str, int] = {}
    suspect: list[str] = []
    for name in HEADLINE:
        best = float("inf")
        samples = []

        def one_sample():
            nonlocal best
            dt, st = measure(name)
            samples.append([round(dt, 3), st])
            best = min(best, dt)

        for _ in range(3):
            one_sample()
        # Deviation guard (r9 postmortem): re-sample while the best is
        # >RETRY_FACTOR x the best-known clean time, up to the cap. All
        # samples — kept and discarded — stay in `runs`.
        extra = 0
        while needs_retry(best, expected.get(name)) and extra < MAX_EXTRA_SAMPLES:
            one_sample()
            extra += 1
        if extra:
            retried[name] = extra
            if needs_retry(best, expected.get(name)):
                suspect.append(name)  # still >2x after retries: real or
                # host-wide — either way flagged, never silently shipped
        times[name] = round(best, 3)
        runs[name] = samples

    # Self-healing suspect protocol (r11 verdict item 6): still-suspect
    # queries get one deferred best-of-DEFERRED_SAMPLES re-measure at
    # the END of the run — the contended window has usually moved.
    deferred_cleared: list[str] = []
    if suspect:
        suspect, deferred_cleared = deferred_remeasure(
            suspect, times, runs, expected, measure
        )

    # Bracketing stamp: the host's multi-thread mode flips within tens
    # of minutes (observed 2.8-7.7 same-day) — a start-only stamp can
    # certify an epoch the run then drifted out of. Disagreeing
    # start/end stamps mean per-query numbers span two modes.
    calib_par_end = calibration_parallel_sec()
    total = round(sum(times.values()), 3)
    steal_samples = [s for rs in runs.values() for _, s in rs]
    steal_available = any(s >= 0 for s in steal_samples)
    steal_total = sum(s for s in steal_samples if s >= 0)
    drift = artifact_drift(times, expected, steal_total, steal_available)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "runs": runs,
                "retried": retried,
                "suspect": suspect,
                "deferred_cleared": deferred_cleared,
                "suspect_artifact": drift is not None,
                "drift": drift,
                "calibration_sec": calib,
                "calibration_parallel_sec": calib_par,
                "calibration_parallel_sec_end": calib_par_end,
                "calibration_workers": calib_workers,
                "steal_jiffies_total": steal_total,
                "steal_available": steal_available,
                "setup": setup,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
