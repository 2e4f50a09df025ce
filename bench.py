"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode (north_rule evidence): run the candidate-pair scoring job
at two parallelism levels (local[8] vs local[32] — the sandbox substitute for
N vs 4N executors) on the same input, report candidate-pairs-scored/sec at
both and the scaling efficiency, and write BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# per-query warm-up scale (r04 protocol); falls back to SF_DIR when the
# small fixture is absent so the warm-up never silently disappears
WARM_SF_DIR = (
    "/root/testdata/sf0.001"
    if os.path.isdir("/root/testdata/sf0.001")
    else SF_DIR
)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

HEADLINE = [
    "blocking_keys",
    "candidate_pairs",
    "edge_weights",
    "pruned_edges",
    "connected_components",
    "token_jaccard",
    "minhash_signatures",
    "minhash_band_candidates",
    "levenshtein_pairs",
    "text_stats",
    "topk_per_group",
    "windowed_event_counts",
    "embedding_topk",
    "tfidf_cosine",
    "ngram_jaccard",
    "simhash_near_pairs",
    "pair_auroc",
    "exact_dedup",
    # round-2/3 additions: every new oracle-backed query is timed so a
    # regression anywhere in the surface shows up in the per-round delta
    "winnow_fingerprints",
    "dedup_keep_list",
    "user_sessions",
    "event_rollup",
    "ann_lsh_topk",
    "embedding_near_dups",
    "metaphone_keys",
    "docs_without_edges",
    "klsh_lloyd",
    "encoder_forward",
    "lang_pivot",
    "value_percentiles",
    "purchasers_with_errors",
    "repetition_signals",
    "chunk_dups",
    "purchase_attribution",
    "error_nearby_views",
    "doc_filter",
    "ann_pq_topk",
    "ann_ivf_topk",
    "semantic_dedup",
    "contamination_check",
    "pii_scan",
    "distinct_token_kmv",
    "hll_distinct_tokens",
    "dup_spans",
    "dup_spans_exact",
    "pack_sequences",
    "packed_corpus",
    "url_dedup",
    "domain_stats",
    "blocked_docs",
    "crawl_snapshot",
    "crawl_diff",
    "training_mix",
    "lm_cross_entropy",
    "boilerplate_strip",
    "prepared_corpus",
    "top_tokens",
]


def _timings_from_tail(tail: str) -> dict[str, float]:
    """Recover per-query timings from a driver-truncated stdout tail.

    The driver keeps only the LAST N chars of bench stdout; when the JSON
    line outgrows that window its head is cut off and the driver records
    ``parsed: null`` (this happened to BENCH_r04.json).  The queries dict
    survives almost intact in the text, so regex the ``"name": secs`` pairs
    out of the segment that ends at the dict's closing ``}`` — a name whose
    head was truncated ("e_pairs") simply never matches a current query
    name, which the drift detector already ignores.
    """
    import re as _re

    m = _re.search(r'"queries"\s*:\s*\{', tail)
    seg = tail[m.end():] if m else tail
    end = seg.find("}")
    if end >= 0:
        seg = seg[:end]
    return {
        name: float(val)
        for name, val in _re.findall(r'"([A-Za-z_][A-Za-z0-9_]*)"\s*:\s*([0-9.]+)', seg)
    }


def _previous_round_timings() -> tuple[str | None, dict[str, float]]:
    """Newest BENCH_r{N}.json with usable timings → (round tag, per-query secs).

    Prefers the driver-parsed JSON; falls back to tail recovery
    (`_timings_from_tail`), then to the next-older round file.
    """
    import glob
    import re as _re

    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                       "BENCH_r*.json")):
        m = _re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    for n, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc.get("parsed") if isinstance(doc, dict) else None
            timings = dict((parsed or doc if isinstance(doc, dict) else {})
                           .get("queries") or {})
            if not timings and isinstance(doc.get("tail"), str):
                timings = _timings_from_tail(doc["tail"])
            if timings:
                return f"r{n:02d}", timings
        except Exception:
            continue
    return None, {}


def _force(df) -> int:
    """Force full computation of every column (noop sink), return row count."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _isolated_remeasure(flagged: list[str], reps: int = 3) -> dict:
    """Fresh-session re-measure of detector-flagged queries.

    Rounds 2-4 each produced ≥1 spurious regression flag that a manual
    isolated re-measure (warm-up rep, then N timed reps, median) later
    adjudicated as a sweep-position/contention artifact. This runs that
    exact protocol automatically BEFORE the bench JSON is written, so a
    committed BENCH_r{N}.json can never carry an unadjudicated flag: every
    ``regressions`` entry ships with its isolated reps, median, and a
    noise/regression verdict under the same thresholds as the detector.
    """
    if not flagged:
        return {}
    import __spark_entry__ as M
    from entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="er-bench-isolated", master=f"local[{CPUS}]",
                      shuffle_partitions=2 * CPUS)
    qs = M.queries()
    out: dict[str, list[float] | None] = {}
    for name in flagged:
        try:
            _force(qs[name](spark, WARM_SF_DIR))  # hot codegen/Arrow paths
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                _force(qs[name](spark, SF_DIR))
                times.append(round(time.perf_counter() - t0, 3))
            out[name] = times
        except Exception:
            out[name] = None
    spark.stop()
    return out


def run_default() -> None:
    import __spark_entry__ as M
    from entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="er-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=2 * CPUS)
    qs = M.queries()
    # warm the JVM/Arrow paths once on the smallest sf
    qs["blocking_keys"](spark, WARM_SF_DIR).count()

    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        # per-query warm-up rep at the smallest sf (r04 protocol): each
        # query's codegen/Arrow/UDF paths are hot when the clock starts,
        # killing the per-position JIT lottery that produced spurious
        # regression flags in r02/r03 (adjudications in BENCH/BASELINE.md)
        try:
            _force(qs[name](spark, WARM_SF_DIR))
        except Exception:
            # surfaces in the timed rep too, but warn so a missing warm-up
            # dir can't silently revert the protocol to cold-JIT timings
            print(f"WARN: warm-up for {name} failed ({WARM_SF_DIR})",
                  file=sys.stderr)
        t0 = time.perf_counter()
        _force(qs[name](spark, SF_DIR))
        dt = round(time.perf_counter() - t0, 3)
        timings[name] = dt
        total += dt

    # throughput metric: candidate pairs scored (lev+jw+jaccard) per second
    t0 = time.perf_counter()
    n_pairs = qs["candidate_pairs"](spark, SF_DIR).count()
    dt_pairs = time.perf_counter() - t0
    spark.stop()

    # per-query delta vs the previous round's recorded bench, normalized by
    # the median cur/prev ratio over shared queries ("host drift") — this
    # virtualized host runs 10-30% faster or slower between rounds, which
    # would otherwise flag every unchanged query; a real regression is one
    # that got slower RELATIVE to the rest of the suite (>20% beyond the
    # drift and >0.5 s absolute)
    prev_tag, prev = _previous_round_timings()
    shared = {n: timings[n] / prev[n] for n in timings if n in prev and prev[n] > 0}
    drift = sorted(shared.values())[len(shared) // 2] if shared else 1.0
    regressions = {
        name: {"prev": prev[name], "cur": cur,
               "pct": round(100.0 * (cur - prev[name]) / prev[name], 1),
               "pct_vs_drift": round(100.0 * (cur / (prev[name] * drift) - 1), 1)}
        for name, cur in timings.items()
        if name in prev and cur > prev[name] * drift * 1.2
        and cur - prev[name] * drift > 0.5
    }
    # auto-adjudication: every flag is re-measured in isolation (fresh
    # session, warm-up rep, 3 timed reps, median) before the JSON exists
    iso = _isolated_remeasure(sorted(regressions))
    for name, entry in regressions.items():
        times = iso.get(name)
        if not times:
            entry["isolated_verdict"] = "remeasure_failed"
            continue
        med = sorted(times)[len(times) // 2]
        entry["isolated_reps"] = times
        entry["isolated_median"] = med
        still_slow = (med > prev[name] * drift * 1.2
                      and med - prev[name] * drift > 0.5)
        entry["isolated_verdict"] = (
            "regression" if still_slow else "noise (sweep-position artifact)"
        )
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "candidate_pairs": n_pairs,
                "candidate_pairs_per_sec": round(n_pairs / max(dt_pairs, 1e-9)),
                "cpus": CPUS,
                "n_queries": len(HEADLINE),
                # apples-to-apples vs the previous round (the headline set
                # grows each round, so raw totals aren't comparable)
                "comparable_total": round(
                    sum(v for n, v in timings.items() if n in prev), 3
                ),
                "prev_comparable_total": round(
                    sum(v for n, v in prev.items() if n in timings), 3
                ),
                "prev_round": prev_tag,
                "host_drift_ratio": round(drift, 3),
                "regressions": regressions,
            }
        )
    )


def _scaling_worker(cores: int, sf_dir: str, mode: str = "threads",
                    prefix: int = 24) -> None:
    """Subprocess body: time the pair-generation+scoring job at `cores`.

    mode="threads": local[cores] (task slots in one JVM).
    mode="executors": local-cluster[cores//4, 4, 3072] — real separate
    executor JVMs (the literal N vs 4N *executors* deployment shape).
    prefix: scored title length.  24 is the historical tier-1 job; tier 2
    uses 64 — levenshtein is O(len²), so the longer title makes the job
    compute-dense (more ALU work per byte of memory traffic), which is
    both more representative of real title scoring and less exposed to
    this 1-socket box's DRAM-bandwidth wall (see the membw control).
    """
    from pyspark.sql import functions as F

    from entity_resolution_spark import entrypoints
    from entity_resolution_spark.functions import similarity as S
    from entity_resolution_spark.operators import pairs as P
    from entity_resolution_spark.session import get_spark

    if mode == "executors":
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        master = f"local-cluster[{max(cores // 4, 1)},4,3072]"
        # locality.wait=0: with every executor on one box there is no rack
        # locality to wait for — waiting only idles cores (measured -1%)
        extra = {"spark.executor.memory": "3g",
                 "spark.locality.wait": "0s"}
    else:
        master = f"local[{cores}]"
        extra = {}
    spark = get_spark(
        app_name=f"er-scaling-{cores}",
        master=master,
        shuffle_partitions=4 * cores,
        extra_confs=extra,
    )
    entrypoints.ensure_shipped(spark)
    scale = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "2"))
    # Replicate the corpus `scale`x (disjoint id spaces) so the job is
    # compute-dominant (~pairs x scale^2) rather than overhead-dominant —
    # fixed stage/setup costs would otherwise swamp the scaling signal.
    base_blocks = entrypoints._blocks(spark, sf_dir)
    # score a 24-char text prefix (not the 4-char first token): representative
    # of real title scoring and CPU-dominant, so the scaling signal measures
    # compute, not allocation/memory-bandwidth overhead
    base_titles = entrypoints._doc(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, prefix).alias("title")
    )
    blocks = base_blocks
    titles = base_titles
    for i in range(1, scale):
        off = i * 10_000_000
        blocks = blocks.union(
            base_blocks.select(
                (F.col("record_id") + off).alias("record_id"), "block_key"
            )
        )
        titles = titles.union(
            base_titles.select((F.col("doc_id") + off).alias("doc_id"), "title")
        )
    # warm-up: JVM JIT + spawn every python worker (pandas/Arrow imports)
    P.candidate_pairs(base_blocks.limit(2000)).count()
    warm = spark.range(cores * 8).repartition(4 * cores).select(
        F.lit("aaa").alias("a"), F.lit("aab").alias("b")
    )
    warm.select(S.jaro_winkler_udf("a", "b")).write.format("noop").mode(
        "overwrite"
    ).save()

    # The measured job is the *scoring* pipeline (the metric is candidate-
    # pairs-scored/sec): blocks → broadcast block self-join → broadcast title
    # joins → levenshtein + jaro-winkler → sink.  With the dimension sides
    # broadcast this is one shuffle-free whole-stage-codegen + Arrow-UDF
    # pipeline — the same plan a 1000-executor cluster would run, where the
    # only cross-node traffic is the broadcast itself.  (The shuffle-heavy
    # dedup/weight path is measured separately by the default bench queries.)
    blocks = blocks.repartition(4 * cores).localCheckpoint()
    t1 = titles.select(F.col("doc_id").alias("id1"), F.col("title").alias("title1"))
    t2 = titles.select(F.col("doc_id").alias("id2"), F.col("title").alias("title2"))
    t0 = time.perf_counter()
    cand = P.candidate_pairs(blocks, distinct=False, broadcast_blocks=True)
    scored = (
        cand.join(F.broadcast(t1), "id1")
        .join(F.broadcast(t2), "id2")
        .select(
            "id1",
            "id2",
            F.levenshtein("title1", "title2").alias("lev"),
            S.jaro_winkler_udf(F.col("title1"), F.col("title2")).alias("jw"),
        )
    )
    scored.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    n = cand.count()
    spark.stop()
    print(json.dumps({"cores": cores, "seconds": dt, "pairs": n}))


def _run_worker(cores: int, sf_dir: str, mode: str, pin: str | None,
                prefix: int = 24):
    import subprocess

    cmd = [sys.executable, __file__, "--scaling-worker", str(cores), sf_dir,
           mode, str(prefix)]
    if pin and os.path.exists("/usr/bin/taskset"):
        # Pin CPU affinity: local[N] alone is NOT an N-core machine — its N
        # task threads and N python UDF workers are separate processes that
        # the OS schedules onto up to 2N physical cores.  taskset makes the
        # 8-core run a true 8-core machine, i.e. the honest N vs 4N cluster
        # substitute.
        cmd = ["taskset", "-c", pin] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


SCALE_REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))


def _run_worker_best(cores: int, sf_dir: str, mode: str, pin: str | None,
                     reps: int = SCALE_REPS, prefix: int = 24):
    """Best (min seconds) of ``reps`` identical runs.  This virtualized host
    shows 10-30% run-to-run throughput swings from neighbor interference —
    interference only ever subtracts, so min-time is the capability
    measurement; all rep times are kept for the variance disclosure."""
    results = [_run_worker(cores, sf_dir, mode, pin, prefix)
               for _ in range(reps)]
    best = min(results, key=lambda r: r["seconds"])
    best["rep_seconds"] = [round(r["seconds"], 3) for r in results]
    return best


def _tier(lo: int, sf_dir: str, mode: str, prefix: int = 24) -> dict:
    """One N vs 4N measurement at `mode` granularity; efficiency =
    throughput(4N cores) / (4 × throughput(N cores)).  Each side is
    best-of-SCALE_REPS (see _run_worker_best)."""
    r_lo = _run_worker_best(lo, sf_dir, mode, f"0-{lo - 1}", prefix=prefix)
    r_hi = _run_worker_best(4 * lo, sf_dir, mode, f"0-{4 * lo - 1}",
                            prefix=prefix)
    t_lo = r_lo["pairs"] / r_lo["seconds"]
    t_hi = r_hi["pairs"] / r_hi["seconds"]
    return {
        "mode": mode,
        "prefix": prefix,
        "pairs": r_lo["pairs"],
        "lo_cores": lo,
        "hi_cores": 4 * lo,
        "lo_sec": round(r_lo["seconds"], 3),
        "hi_sec": round(r_hi["seconds"], 3),
        "lo_rep_secs": r_lo["rep_seconds"],
        "hi_rep_secs": r_hi["rep_seconds"],
        "lo_pairs_per_sec": round(t_lo),
        "hi_pairs_per_sec": round(t_hi),
        "efficiency": round(t_hi / (4 * t_lo), 3),
    }


def _ceiling(sf_dir: str, n_cores: int = 32, worker_cores: int = 8,
             prefix: int = 24) -> dict:
    """Hardware-ceiling probe: the same pinned 8-core job run once alone vs
    4× concurrently on disjoint core sets.  The four concurrent JVMs share
    NOTHING Spark-side (separate processes, separate data copies, zero
    coordination), so any per-worker slowdown is pure machine contention
    (memory bandwidth / turbo / LLC) — the ceiling any 4×-wider deployment
    on this box faces, Spark or not."""
    import subprocess

    single = _run_worker_best(worker_cores, sf_dir, "threads",
                              f"0-{worker_cores - 1}", prefix=prefix)
    k = n_cores // worker_cores

    def one_concurrent_round() -> list[float]:
        procs = []
        for i in range(k):
            pin = f"{worker_cores * i}-{worker_cores * (i + 1) - 1}"
            cmd = [sys.executable, __file__, "--scaling-worker",
                   str(worker_cores), sf_dir, "threads", str(prefix)]
            if os.path.exists("/usr/bin/taskset"):
                cmd = ["taskset", "-c", pin] + cmd
            procs.append(subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
        secs = []
        for p in procs:
            out, err = p.communicate()
            lines = [l for l in out.splitlines() if l.startswith("{")]
            if not lines:
                raise RuntimeError(
                    f"ceiling worker produced no JSON (rc={p.returncode}); "
                    f"stderr tail: {err[-2000:]}"
                )
            secs.append(json.loads(lines[-1])["seconds"])
        return secs

    rounds = [one_concurrent_round() for _ in range(SCALE_REPS)]
    best = min(rounds, key=max)  # the least-interfered concurrent round
    return {
        "single_8core_sec": round(single["seconds"], 3),
        "single_rep_secs": single["rep_seconds"],
        "concurrent_8core_secs": [round(s, 3) for s in best],
        "concurrent_rounds_max_sec": [round(max(r), 3) for r in rounds],
        "ceiling_efficiency": round(single["seconds"] / max(best), 3),
    }


def _membw_worker(n_threads: int = 8, passes: int = 400) -> None:
    """Memory-bandwidth probe body: `n_threads` threads each stream a
    STREAM-triad (a = b + 0.5*c) over arrays far larger than LLC.  Numpy
    releases the GIL for large elementwise ops, so the threads genuinely
    saturate the pinned cores' DRAM paths; there is no Spark, no JVM, no
    IPC — only loads and stores."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    n = 8 * 1024 * 1024  # 64 MB per array, 3 arrays per thread

    def one_thread(seed: int) -> float:
        rng = np.random.default_rng(seed)
        b = rng.random(n)
        c = rng.random(n)
        a = np.empty_like(b)
        t0 = time.perf_counter()
        for _ in range(passes):
            np.multiply(c, 0.5, out=a)
            np.add(a, b, out=a)
        return time.perf_counter() - t0

    with ThreadPoolExecutor(n_threads) as ex:
        times = list(ex.map(one_thread, range(n_threads)))
    print(json.dumps({"seconds": max(times)}))


def _membw_control(n_cores: int = 32, worker_cores: int = 8) -> dict:
    """Second, Spark-free hardware-ceiling control: the same pinned
    8-thread STREAM-triad run once alone vs 4× concurrently on disjoint
    core sets.  Pure DRAM-bandwidth scaling of this box — if it lands near
    the independent-Spark-jobs ceiling, the two controls corroborate that
    the tier-2 gap is machine bandwidth, not engine coordination."""
    import subprocess

    k = n_cores // worker_cores

    def run_one(pin: str) -> float:
        cmd = [sys.executable, __file__, "--membw-worker", str(worker_cores)]
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["taskset", "-c", pin] + cmd
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)["seconds"]

    singles = [run_one(f"0-{worker_cores - 1}") for _ in range(SCALE_REPS)]

    def one_round() -> list[float]:
        procs = []
        for i in range(k):
            pin = f"{worker_cores * i}-{worker_cores * (i + 1) - 1}"
            cmd = [sys.executable, __file__, "--membw-worker", str(worker_cores)]
            if os.path.exists("/usr/bin/taskset"):
                cmd = ["taskset", "-c", pin] + cmd
            procs.append(subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
        secs = []
        for p in procs:
            out, _ = p.communicate()
            secs.append(json.loads(
                [l for l in out.splitlines() if l.startswith("{")][-1]
            )["seconds"])
        return secs

    rounds = [one_round() for _ in range(SCALE_REPS)]
    best = min(rounds, key=max)
    return {
        "membw_single_sec": round(min(singles), 3),
        "membw_single_reps": [round(s, 3) for s in singles],
        "membw_concurrent_secs": [round(s, 3) for s in best],
        "membw_ceiling_efficiency": round(min(singles) / max(best), 3),
    }


def run_scaling(sf_dir: str) -> None:
    """North-rule N → 4N evidence, one number per tier + a measured ceiling:

    * tier 1 — taskset-pinned local[2] vs local[8] (2 → 8 cores, thread
      granularity);
    * tier 2 — local-cluster[2,4,3072] vs local-cluster[8,4,3072] (2 → 8
      separate executor JVMs × 4 cores: the literal N vs 4N *executors*
      deployment shape, 8 → 32 cores);
    * ceiling — 1 vs 4 concurrent *independent* pinned 8-core jobs: the
      machine's own 8→32 parallel-scaling limit with zero Spark coordination.
    """
    n_cpus = os.cpu_count() or 8
    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    tier1 = _tier(lo, sf_dir, "threads")
    # tier 2 pins N vs 4N cores, so it needs >= 16; size it to the machine
    # (largest multiple-of-4 core count) instead of assuming 32
    if n_cpus >= 16:
        t2_hi = (n_cpus // 4) * 4
        # tier 2 + its ceiling control run the compute-dense 64-char title
        # job (see _scaling_worker docstring): same job at N and 4N, so the
        # efficiency is internally consistent, and the ceiling normalizes
        # the SAME job — apples to apples
        tier2 = _tier(t2_hi // 4, sf_dir, "executors", prefix=64)
        ceil = _ceiling(sf_dir, n_cores=t2_hi, worker_cores=t2_hi // 4,
                        prefix=64)
        norm = round(tier2["efficiency"] / max(ceil["ceiling_efficiency"], 1e-9), 3)
        membw = _membw_control(n_cores=t2_hi, worker_cores=t2_hi // 4)
    else:
        tier2 = {"skipped": f"needs >= 16 cores, have {n_cpus}"}
        ceil = {"skipped": f"needs >= 16 cores, have {n_cpus}"}
        membw = {"skipped": f"needs >= 16 cores, have {n_cpus}"}
        norm = None
    report = {"tier1_threads": tier1, "tier2_executors": tier2,
              "hw_ceiling": ceil, "membw_control": membw,
              "tier2_normalized_efficiency": norm}
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            "# BENCH/BASELINE — throughput + scaling evidence\n\n"
            "North-rule scaling criterion: candidate-pairs-scored/sec with\n"
            ">= 0.8 throughput scaling efficiency from N to 4N executors.\n"
            "In-sandbox substitute (no real cluster): the identical\n"
            "candidate-pair generation + scoring job (blocking -> block-local\n"
            "broadcast self-join -> levenshtein + jaro-winkler, shuffle-free\n"
            f"plan) on the same input ({sf_dir}), at two tiers plus a\n"
            "hardware-ceiling control.  Efficiency(N->4N) =\n"
            "throughput(4N) / (4 x throughput(N)).\n\n"
            "## Tier 1 — 2 -> 8 cores (taskset-pinned local[2] vs local[8])\n\n"
            "| metric | value |\n|---|---|\n"
            + "".join(f"| {k} | {v} |\n" for k, v in tier1.items())
            + "\n## Tier 2 — 2 -> 8 executor JVMs x 4 cores "
            "(local-cluster[2,4,3072] vs local-cluster[8,4,3072])\n\n"
            "| metric | value |\n|---|---|\n"
            + "".join(f"| {k} | {v} |\n" for k, v in tier2.items())
            + "\n## Hardware ceiling — 1 vs 4 concurrent independent pinned "
            "8-core jobs\n\n"
            "The four concurrent JVMs coordinate nothing (separate processes,\n"
            "separate inputs), so their per-worker slowdown is the machine's\n"
            "own 8->32 scaling limit (shared memory bandwidth / turbo / LLC\n"
            "on this 1-socket 32-core box), not a property of the engine.\n\n"
            "| metric | value |\n|---|---|\n"
            + "".join(f"| {k} | {v} |\n" for k, v in ceil.items())
            + "\n## Second control — Spark-free memory-bandwidth probe\n\n"
            "The same 1-vs-4-concurrent pinned-8-core comparison, but the\n"
            "workload is a pure numpy STREAM-triad (no Spark, no JVM, no\n"
            "Python workers, no IPC): the box's raw DRAM-bandwidth scaling.\n"
            "If this lands near the independent-Spark-jobs ceiling, the two\n"
            "controls corroborate each other: the tier-2 gap is machine\n"
            "bandwidth, not engine coordination.\n\n"
            "| metric | value |\n|---|---|\n"
            + "".join(f"| {k} | {v} |\n" for k, v in membw.items())
            + (
                f"\n**Tier-2 efficiency normalized by the hardware ceiling: "
                f"{norm}** (= {tier2['efficiency']} / {ceil['ceiling_efficiency']}).\n"
                if norm is not None else "\n"
            )
            + "On hardware that does scale linearly (a real multi-node\n"
            "cluster, one executor per node), the normalized number is the\n"
            "expected efficiency; the shuffle-free plan itself adds no\n"
            "cross-executor traffic beyond the broadcast.\n\n"
            "See BENCH/ADJUDICATIONS.md for per-round adjudications and\n"
            "interpretation (hand-written; survives --scaling regeneration).\n"
        )


def run_reference_compare(sf_dir: str, reps: int = 8) -> None:
    """Same blocking→edges→prune→CC chain: this engine vs a faithful
    single-node pandas/dict implementation of the reference architecture
    (tests/pandas_oracle.py), on the identical replicated input."""
    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    import duckdb
    from pandas_oracle import blocks_py, components_py, edge_weights_py

    base = duckdb.query(
        f"select doc_id, split_part(text,' ',1) as title from "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchdf()
    docs = pd.concat(
        [base.assign(doc_id=base["doc_id"] + i * 10_000_000) for i in range(reps)],
        ignore_index=True,
    )

    from pyspark.sql import functions as F

    from entity_resolution_spark import entrypoints
    from entity_resolution_spark.operators import components as C
    from entity_resolution_spark.operators import pairs as P
    from entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="ref-compare")
    bb = entrypoints._blocks(spark, sf_dir)
    blocks = bb
    for i in range(1, reps):
        blocks = blocks.union(
            bb.select((F.col("record_id") + i * 10_000_000).alias("record_id"), "block_key")
        )
    blocks = blocks.repartition(64).localCheckpoint()
    P.candidate_pairs(bb.limit(1000)).count()  # warm
    t0 = time.perf_counter()
    pr = P.prune(P.edge_weights(blocks, broadcast_blocks=True)).localCheckpoint()
    pr.count()
    C.assign_components(
        blocks.select("record_id").distinct(),
        pr.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    ).count()
    t_spark = time.perf_counter() - t0
    spark.stop()

    # pandas AFTER spark: its ~8 GB pair dict would otherwise sit in the
    # driver heap during the Spark phase and skew the comparison
    t0 = time.perf_counter()
    names = pd.Series(docs["title"].values, index=docs["doc_id"].values)
    weights = edge_weights_py(blocks_py(names))
    pruned = [p for p, w in weights.items() if w > 1.5]
    components_py(list(docs["doc_id"]), pruned)
    t_pandas = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "docs": len(docs),
                "reference_pandas_sec": round(t_pandas, 1),
                "spark_sec": round(t_spark, 1),
                "speedup": round(t_pandas / t_spark, 2),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--reference-compare":
        run_reference_compare(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(int(sys.argv[2]), sys.argv[3],
                        sys.argv[4] if len(sys.argv) > 4 else "threads",
                        int(sys.argv[5]) if len(sys.argv) > 5 else 24)
    elif len(sys.argv) > 1 and sys.argv[1] == "--membw-worker":
        _membw_worker(int(sys.argv[2]) if len(sys.argv) > 2 else 8)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        run_scaling(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
    else:
        run_default()
