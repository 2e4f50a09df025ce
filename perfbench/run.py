"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload er_batches --seed 1 --seconds 10 --trace 0

Runs from the root of a source tree, in one driver process on
``local[min(4, nproc)]``.  The workload is a closed loop with one client: the
next request is generated and sent only after the previous one has been
checked.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the same requests layer by layer under Spark job groups with an uncompressed
event log and prints the per-layer metrics.  Per-request timings, spans and
per-layer tables go to ``perfbench/out/results/``; the last stdout line is
one JSON summary.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import atexit
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import asdict

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
MAX_CORES = 4
WARMUP_BASE = 990  # input index of the first warm-up request


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def require_source_tree() -> None:
    needed = [
        os.path.join(ROOT, "entity_resolution_spark", "__init__.py"),
        os.path.join(ROOT, "scripts", "oracle_compare.py"),
        os.path.join(ROOT, "scripts", "gen_testdata.py"),
    ]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"not a source tree, missing: {missing}", file=sys.stderr)
        sys.exit(2)


def keep_temp_files_in(run_dir: str) -> None:
    """Keep every temporary file of the driver, the JVM and the Python
    workers inside ``run_dir`` (they inherit this environment)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None


def start_session(run_dir: str, cores: int, trace: bool):
    from entity_resolution_spark.entrypoints import ensure_shipped
    from entity_resolution_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{log_dir}",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


class Stopwatch:
    """Wall time with the VM's stolen CPU share taken out.

    On a shared host the hypervisor runs other guests on this VM's CPUs
    (``steal`` in ``/proc/stat``), and a request's wall time swings with
    their load.  Of the CPU time this VM's runnable CPUs got or were owed
    over an interval, ``stolen / (busy + stolen)`` went to other guests; the
    stopwatch scales the wall time by the rest, ``busy / (busy + stolen)``,
    as if every runnable thread had been slowed evenly.
    """

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = host.vm_cpu_s()

    def read(self) -> dict:
        busy, steal = host.vm_cpu_s()
        busy, steal = busy - self.busy0, steal - self.steal0
        wall = time.perf_counter() - self.t0
        owed = busy + steal
        return {
            "wall_s": wall,
            "vm_busy_s": busy,
            "vm_steal_s": steal,
            "s": wall * busy / owed if owed > 0 else wall,
        }


def set_up(workload, run_dir: str, cores: int, trace: bool):
    """Start the session, ship the package, run one cold checked request and
    generate the first timed input; that is ``setup_s``.  In between, the
    workload's ``warmup_requests`` more full-size checked requests warm the
    JIT and the Python workers; they are not part of ``setup_s``.
    Returns (spark, first input, setup_s, set-up record).

    Set-up runs once per process: a second SparkContext in the same Python
    process leaves module-level UDFs bound to the first context's accumulator
    channel, and every UDF task after it logs a broken-pipe error.
    """
    from workloads import Layers

    def checked_request(k: int) -> None:
        out = workload.run(workload.make_input(spark, WARMUP_BASE + k), Layers())
        if not out.ok:
            raise RuntimeError(f"warm-up request failed its check: {out.detail}")

    watch = Stopwatch()
    spark = start_session(run_dir, cores, trace)
    session = watch.read()
    checked_request(0)
    cold = watch.read()
    warm_watch = Stopwatch()
    for k in range(1, 1 + workload.warmup_requests):
        checked_request(k)
    warm = warm_watch.read()
    first_watch = Stopwatch()
    first = workload.make_input(spark, 0)
    first_input = first_watch.read()
    record = {
        "session": session,
        "session_and_cold_request": cold,
        "warmup_requests": workload.warmup_requests,
        "warmup": warm,
        "first_input": first_input,
    }
    return spark, first, cold["s"] + first_input["s"], record


def one_request(workload, inp: dict, layers) -> dict:
    cpu0 = host.cpu_s(host.spark_pids())
    watch = Stopwatch()
    try:
        out = workload.run(inp, layers)
        rec = {"ok": out.ok, "records": out.records,
               "pairs_scored": out.pairs_scored, "detail": out.detail}
    except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
        rec = {"ok": False, "records": inp["records"], "pairs_scored": 0,
               "error": traceback.format_exc()}
    t = watch.read()
    # trace-only side counts are not part of the request
    share = t["s"] / t["wall_s"] if t["wall_s"] > 0 else 1.0
    wall = t["wall_s"] - layers.stats_s
    rec.update(
        start=watch.t0, end=watch.t0 + t["wall_s"],
        wall_s=wall, seconds=wall * share,
        vm_busy_s=t["vm_busy_s"], vm_steal_s=t["vm_steal_s"],
        # CPU of the driver, the JVM and its Python workers
        cpu_s=host.cpu_s(host.spark_pids()) - cpu0,
    )
    return rec


def closed_loop(
    workload, spark, first: dict, i: int, seconds: float, make_layers
) -> tuple[list[dict], dict]:
    """Send requests ``i, i+1, ...`` back to back until ``seconds`` have
    passed (at least one); ``first`` is request ``i``'s input.  Returns the
    request records and the stopwatch reading of the whole loop."""
    records, inp, watch = [], first, Stopwatch()
    while True:
        layers = make_layers(i)
        rec = one_request(workload, inp, layers)
        rec.update(request=i, stats=layers.stats, stats_s=layers.stats_s)
        if layers.traced:
            layers.close()
        records.append(rec)
        i += 1
        if time.perf_counter() - watch.t0 >= seconds:
            return records, watch.read()
        inp = workload.make_input(spark, i)


def end_to_end(records: list[dict], loop: dict, setup_s: float) -> dict:
    """All times steal-adjusted (see ``Stopwatch``)."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "request_p50_s": {
            "value": statistics.median(r["seconds"] for r in records), "unit": "s"
        },
        # throughput over the whole timed loop, input generation between
        # requests included
        "records_per_s": {
            "value": sum(r["records"] for r in records) / loop["s"], "unit": "1/s"
        },
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    require_source_tree()
    sys.path.insert(0, ROOT)
    import workloads
    from tracing import Span, TracedLayers, per_layer_summary, request_layers

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cores = min(MAX_CORES, host.nproc())
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", name)
    keep_temp_files_in(run_dir)
    # registered before the session starts, so it runs after Spark's own
    # exit handlers, on success and on error alike
    atexit.register(shutil.rmtree, run_dir, ignore_errors=True)
    info = host.host_info(ROOT, f"local[{cores}]")

    # oracle digest (web text) resolved here: never in setup or a request
    workload = workloads.make_workload(args.workload, args.seed, ROOT, OUT, run_dir)

    spans: list = []
    sampler = host.RssSampler()
    detail: dict = {"args": vars(args), "host": info}
    try:
        spark, first, setup_s, setup = set_up(workload, run_dir, cores, trace)
        if trace:
            # untraced baseline in the same session, for the overhead ratio
            baseline = one_request(workload, first, workloads.Layers())
            records, loop = closed_loop(
                workload, spark, workload.make_input(spark, 1), 1, args.seconds,
                lambda i: TracedLayers(spark, i, spans),
            )
        else:
            sampler.start()
            records, loop = closed_loop(
                workload, spark, first, 0, args.seconds, lambda i: workloads.Layers()
            )
            peak_mb = sampler.stop()
        app_id = spark.sparkContext.applicationId
        spark.stop()
    finally:
        host.shutdown_jvm()

    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    secs = [r["seconds"] for r in records]
    if trace:
        from eventlog import read_event_log

        for r in records:
            spans.append(Span("request", r["request"], None, r["start"], r["end"]))
        (log_path,) = glob.glob(os.path.join(run_dir, "eventlog", f"{app_id}*"))
        groups = read_event_log(log_path)
        tables = [
            request_layers(r["request"], spans, r["stats"], r["stats_s"], groups)
            for r in records
        ]
        overhead = statistics.median(secs) / baseline["seconds"]
        metrics = per_layer_summary(tables, overhead)
        detail.update(
            baseline=baseline,
            spans=[asdict(s) for s in spans],
            layers=tables,
            groups={g: m.as_dict() for g, m in groups.items()},
        )
    else:
        metrics = end_to_end(records, loop, setup_s)
        scored = sum(r["pairs_scored"] for r in records)
        # reported, not gated: see README "Metrics kept out of BENCHMARK.json"
        detail["extra"] = {
            "peak_rss_mb": peak_mb,
            "fail_ratio": failed / attempted,
            "pairs_scored_per_s": scored / sum(secs),
            "requests": attempted,
            "request_max_s": max(secs),
            # unadjusted, and what the host took
            "request_wall_p50_s": statistics.median(r["wall_s"] for r in records),
            "request_cpu_p50_s": statistics.median(r["cpu_s"] for r in records),
            "loop_steal_share": loop["vm_steal_s"]
            / max(loop["vm_busy_s"] + loop["vm_steal_s"], 1e-9),
        }
    info["loadavg_after"] = list(os.getloadavg())
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    detail.update(setup_s=setup_s, setup=setup, loop=loop, requests=records,
                  summary=summary)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{name}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(f"detail: {os.path.relpath(path, ROOT)}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
