"""Traced requests: spans around layer calls, job-group attribution.

Every layer call runs under the Spark job group ``r<request>.<layer>`` and
its result is materialised (eager ``localCheckpoint`` plus a row count, or a
collect) before the next layer is called, so each job belongs to exactly one
layer.  Work between layers (result checks) runs under ``r<request>.request``
and trace-only side counts under ``r<request>.stats``; the stats time is
excluded from the traced request time.  Spans stay in memory and are written
with the run's detail file.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from eventlog import GroupMetrics
from workloads import Layers

ER_LAYERS = ("text", "blocking", "pairs", "components", "similarity", "evaluate")
WEBTEXT_LAYERS = ("relational", "webtext", "text", "dedup", "sampling")
LAYERS = tuple(dict.fromkeys(ER_LAYERS + WEBTEXT_LAYERS))
LAYER_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "driver_gap_s": "s",
    "cpu_s": "s",
    "python_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "peak_exec_mem_mb": "MB",
    "rows_out": "count",
}
EXTRA_METRICS = {
    "pairs.pair_rows": "count",
    "pairs.kept_ratio": "ratio",
    "components.edges_in": "count",
    "dedup.kept_ratio": "ratio",
    "request.self_s": "s",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


@dataclass
class Span:
    name: str
    request: int
    parent: str | None
    start: float
    end: float
    rows: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class TracedLayers(Layers):
    traced = True

    def __init__(self, spark: SparkSession, request: int, spans: list[Span]) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self.request = request
        self.spans = spans
        self.stats: dict[str, int] = {}
        self.stats_s = 0.0
        self._group("request")

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"r{self.request}.{name}", name)

    def _span(self, name: str, start: float, rows: int) -> None:
        self.spans.append(
            Span(name, self.request, "request", start, time.perf_counter(), rows)
        )
        self._group("request")

    def layer(self, name: str, build, reuse: bool = False) -> DataFrame:
        self._group(name)
        start = time.perf_counter()
        df = build().localCheckpoint(eager=True)
        self._span(name, start, df.count())
        return df

    def collect(self, name: str, build) -> list:
        self._group(name)
        start = time.perf_counter()
        rows = build().collect()
        self._span(name, start, len(rows))
        return rows

    def stat(self, name: str, fn):
        self._group("stats")
        start = time.perf_counter()
        value = fn()
        self.stats_s += time.perf_counter() - start
        self.stats[name] = value
        self._group("request")
        return value

    def close(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def request_layers(
    request: int,
    spans: list[Span],
    stats: dict[str, int],
    stats_s: float,
    groups: dict[str, GroupMetrics],
) -> dict[str, float]:
    """Per-layer metrics of one traced request (layers it did not call
    are absent)."""
    out: dict[str, float] = {}
    req = next(s for s in spans if s.request == request and s.name == "request")
    layer_spans = [s for s in spans if s.request == request and s.parent == "request"]
    rows = {}
    for s in layer_spans:
        g = groups.get(f"r{request}.{s.name}", GroupMetrics()).as_dict()
        rows[s.name] = s.rows
        out.update({
            f"{s.name}.wall_s": s.seconds,
            f"{s.name}.jobs": g["jobs"],
            f"{s.name}.driver_gap_s": max(s.seconds - g["job_s"], 0.0),
            f"{s.name}.cpu_s": g["cpu_s"],
            f"{s.name}.python_s": g["python_s"],
            f"{s.name}.shuffle_write_mb": g["shuffle_write_mb"],
            f"{s.name}.spill_mb": g["spill_mb"],
            f"{s.name}.peak_exec_mem_mb": g["peak_exec_mem_mb"],
            f"{s.name}.rows_out": s.rows,
        })
    # a layer span has no children, so its self time is its wall time; the
    # request's self time is what lies outside its layers and side counts
    out["request.self_s"] = (
        req.seconds - sum(s.seconds for s in layer_spans) - stats_s
    )
    if "pairs.pair_rows" in stats:
        out["pairs.pair_rows"] = stats["pairs.pair_rows"]
    if "pairs.candidates" in stats and "pairs" in rows:
        out["pairs.kept_ratio"] = rows["pairs"] / stats["pairs.candidates"]
        out["components.edges_in"] = rows["pairs"]
    if "dedup" in rows and rows.get("text"):
        out["dedup.kept_ratio"] = rows["dedup"] / rows["text"]
    return out


def per_layer_summary(
    tables: list[dict[str, float]], overhead_ratio: float
) -> dict[str, dict]:
    """Median over traced requests of every per-layer metric; a layer the
    workload never calls reports 0."""
    out = {}
    for name, unit in per_layer_units().items():
        vals = [t[name] for t in tables if name in t]
        value = statistics.median(vals) if vals else 0
        out[name] = {"value": value, "unit": unit}
    out["trace.overhead_ratio"]["value"] = overhead_ratio
    return out
