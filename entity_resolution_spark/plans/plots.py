"""S7 plot sinks — driver-side "collect small summary → PNG" (no matplotlib).

The reference renders matplotlib figures for the blocking graph
(``block_klsh/blocking/graph_visualization.py:6-66``) and training/metric
curves (``perf_metrics/plots.py:28-583``).  The package does not depend on
matplotlib, so these sinks rasterize onto a numpy canvas and emit the PNG with
``operators.multimodal.encode_png`` (stdlib ``zlib``/``struct`` only).  The
Spark contract is the important part: every plot collects a *bounded*
summary (component sample caps, pre-aggregated histogram bins, per-epoch
scalars) — never raw data — so the sink is safe at any input scale.
"""

from __future__ import annotations

import math

import numpy as np

from ..operators.multimodal import encode_png

# categorical palette (RGB)
_COLORS = [
    (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40),
    (148, 103, 189), (140, 86, 75), (227, 119, 194), (127, 127, 127),
    (188, 189, 34), (23, 190, 207),
]


def write_png(canvas: np.ndarray, path: str) -> None:
    with open(path, "wb") as f:
        f.write(encode_png(canvas))


def _canvas(w: int, h: int) -> np.ndarray:
    return np.full((h, w, 3), 255, dtype=np.uint8)


def _draw_line(canvas, x0, y0, x1, y1, color) -> None:
    n = int(max(abs(x1 - x0), abs(y1 - y0), 1)) * 2
    xs = np.clip(np.linspace(x0, x1, n).round().astype(int), 0, canvas.shape[1] - 1)
    ys = np.clip(np.linspace(y0, y1, n).round().astype(int), 0, canvas.shape[0] - 1)
    canvas[ys, xs] = color


def _draw_disc(canvas, cx, cy, r, color) -> None:
    y0, y1 = max(cy - r, 0), min(cy + r + 1, canvas.shape[0])
    x0, x1 = max(cx - r, 0), min(cx + r + 1, canvas.shape[1])
    yy, xx = np.mgrid[y0:y1, x0:x1]
    mask = (yy - cy) ** 2 + (xx - cx) ** 2 <= r * r
    canvas[y0:y1, x0:x1][mask] = color


def plot_metric_curves(
    curves: dict[str, list[float]] | list[float],
    path: str,
    width: int = 640,
    height: int = 400,
    margin: int = 40,
) -> str:
    """Line plot of one or more per-epoch metric series (reference
    ``plots.py`` training-loss figures).  Input is already driver-side
    scalars — nothing is collected here."""
    if not isinstance(curves, dict):
        curves = {"metric": list(curves)}
    canvas = _canvas(width, height)
    pts = [(k, [float(v) for v in vs]) for k, vs in curves.items() if len(vs)]
    if pts:
        all_v = [v for _, vs in pts for v in vs]
        lo, hi = min(all_v), max(all_v)
        span = (hi - lo) or 1.0
        max_n = max(len(vs) for _, vs in pts)
        # axes
        _draw_line(canvas, margin, height - margin, width - 10, height - margin, (0, 0, 0))
        _draw_line(canvas, margin, height - margin, margin, 10, (0, 0, 0))
        for ci, (_name, vs) in enumerate(pts):
            color = _COLORS[ci % len(_COLORS)]
            coords = [
                (
                    margin + int((width - margin - 20) * (i / max(max_n - 1, 1))),
                    height - margin - int((height - margin - 20) * ((v - lo) / span)),
                )
                for i, v in enumerate(vs)
            ]
            for (x0, y0), (x1, y1) in zip(coords, coords[1:]):
                _draw_line(canvas, x0, y0, x1, y1, color)
            for x, y in coords:
                _draw_disc(canvas, x, y, 2, color)
    write_png(canvas, path)
    return path


def plot_score_histogram(
    bins_df,
    path: str,
    bin_col: str = "bin",
    count_col: str = "n_pairs",
    width: int = 640,
    height: int = 400,
    margin: int = 40,
) -> str:
    """Bar chart from a PRE-AGGREGATED (bin, count) DataFrame — the collect
    is bounded by the bin count, not the data size."""
    rows = sorted(
        ((r[bin_col], r[count_col]) for r in bins_df.collect()), key=lambda t: t[0]
    )
    canvas = _canvas(width, height)
    if rows:
        top = max(c for _, c in rows) or 1
        bw = (width - margin - 20) // max(len(rows), 1)
        _draw_line(canvas, margin, height - margin, width - 10, height - margin, (0, 0, 0))
        for i, (_b, c) in enumerate(rows):
            x0 = margin + i * bw
            bar_h = int((height - margin - 20) * (c / top))
            canvas[height - margin - bar_h : height - margin, x0 : x0 + max(bw - 2, 1)] = _COLORS[0]
    write_png(canvas, path)
    return path


def plot_component_graph(
    edges_df,
    assignment_df,
    path: str,
    max_components: int = 12,
    max_nodes: int = 400,
    width: int = 800,
    height: int = 600,
) -> str:
    """Entity-graph snapshot (reference ``graph_visualization.py:6-66``):
    the ``max_components`` largest components laid out on circles in a grid,
    nodes colored by component, surviving edges drawn inside.

    Scale-safety: two bounded collects — the top-k component ids (k rows) and
    the member/edge sample for those components only (``max_nodes`` rows via
    ``limit``).  The full graph is never collected.
    """
    from pyspark.sql import functions as F

    top = (
        assignment_df.groupBy("component_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("component_id"))
        .limit(max_components)
        .collect()
    )
    comp_ids = [r["component_id"] for r in top]
    members = (
        assignment_df.where(F.col("component_id").isin(comp_ids))
        .orderBy("record_id")
        .limit(max_nodes)
        .collect()
    )
    node_comp = {r["record_id"]: r["component_id"] for r in members}
    edges = (
        edges_df.where(
            F.col("id1").isin(list(node_comp)) & F.col("id2").isin(list(node_comp))
        )
        .limit(4 * max_nodes)
        .collect()
    )

    canvas = _canvas(width, height)
    cols = max(int(math.ceil(math.sqrt(max(len(comp_ids), 1)))), 1)
    rows_n = int(math.ceil(len(comp_ids) / cols)) or 1
    cell_w, cell_h = width // cols, height // rows_n
    pos: dict[int, tuple[int, int]] = {}
    for ci, comp in enumerate(comp_ids):
        cx = (ci % cols) * cell_w + cell_w // 2
        cy = (ci // cols) * cell_h + cell_h // 2
        nodes = sorted(r for r, c in node_comp.items() if c == comp)
        radius = max(min(cell_w, cell_h) // 2 - 15, 5)
        for ni, rid in enumerate(nodes):
            ang = 2 * math.pi * ni / max(len(nodes), 1)
            pos[rid] = (
                cx + int(radius * math.cos(ang)),
                cy + int(radius * math.sin(ang)),
            )
    for e in edges:
        a, b = pos.get(e["id1"]), pos.get(e["id2"])
        if a and b:
            _draw_line(canvas, a[0], a[1], b[0], b[1], (180, 180, 180))
    for rid, (x, y) in pos.items():
        color = _COLORS[comp_ids.index(node_comp[rid]) % len(_COLORS)]
        _draw_disc(canvas, x, y, 4, color)
    write_png(canvas, path)
    return path
