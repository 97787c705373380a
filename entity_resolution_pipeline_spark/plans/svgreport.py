"""Analyst-facing visual report layer: the reference's matplotlib stage
(reference src/reporting.py:251-1810 — class-density plots :251, cluster
visualizations :1224, feature-importance bar :792, confusion matrix
:581) re-expressed Spark-first with a pure-stdlib SVG renderer
(matplotlib is not in this environment, and a driver-side plotting
library would invite collecting raw rows anyway).  The CLI's report
stage draws four figures: the score distribution by predicted class,
the confusion matrix, feature importance and cluster sizes.

The contract that makes this layer scale-safe is the split:

* **Spark reduces, the driver renders.**  Every figure is drawn from a
  BOUNDED aggregate — O(bins) histogram counts, the six cluster-size
  buckets, a handful of metrics.  No raw rows ever reach the driver: a
  10^11-pair scored table produces the same plot input as the sf0.001
  fixture.  (The reference collects the full test CSV into pandas at
  reporting.py:168-249; that pattern caps out at one machine's memory
  and is deliberately not reproduced.)
* **The renderer is dumb.**  Pure string-assembly SVG, no dependencies,
  deterministic output (stable float formatting), so figures diff
  cleanly in git and tests can assert on structure.

Charts follow a fixed visual spec (thin marks: bars <=24px with a 4px
rounded data-end and square baseline, 2px lines, hairline solid
gridlines, text in ink tokens never in series hue, legend whenever >=2
series).  The categorical palette is CVD-validated in this order; the
two-class charts use only slots 1-2.  Every figure's backing table is
embedded in the HTML index, so no reading is gated on color.
"""

from __future__ import annotations

import html
import json
import math
import os
from typing import Any, Sequence

try:  # Spark only needed for the aggregate builders, not the renderer
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
except Exception:  # pragma: no cover - renderer is usable standalone
    DataFrame = Any  # type: ignore

# ---------------------------------------------------------------------------
# palette / tokens (validated categorical order -- do not re-order)
# ---------------------------------------------------------------------------

SERIES = [
    "#2a78d6",  # 1 blue
    "#eb6834",  # 2 orange
    "#1baf7a",  # 3 aqua
    "#eda100",  # 4 yellow
    "#e87ba4",  # 5 magenta
    "#008300",  # 6 green
    "#4a3aa7",  # 7 violet
    "#e34948",  # 8 red
]
# sequential blue ramp, light->dark
SEQ_BLUE = ["#cde2fb", "#86b6ef", "#5598e7", "#3987e5", "#256abf", "#1c5cab", "#104281"]
SURFACE = "#fcfcfb"
INK = "#0b0b0b"
INK_2 = "#52514e"
GRID = "#e8e7e4"  # one step off surface, hairline

_FONT = "font-family='system-ui,sans-serif'"


def _f(x: float) -> str:
    """Stable short float formatting for deterministic SVG output."""
    s = f"{x:.2f}".rstrip("0").rstrip(".")
    return s if s != "-0" else "0"


def _esc(s: str) -> str:
    return html.escape(str(s), quote=True)


def _text(x, y, s, size=12, fill=INK, anchor="start", weight="normal", extra=""):
    return (
        f"<text x='{_f(x)}' y='{_f(y)}' font-size='{size}' fill='{fill}' "
        f"text-anchor='{anchor}' font-weight='{weight}' {_FONT} {extra}>{_esc(s)}</text>"
    )


def _hline(x1, x2, y, stroke=GRID, width=1, dash=""):
    d = f" stroke-dasharray='{dash}'" if dash else ""
    return f"<line x1='{_f(x1)}' y1='{_f(y)}' x2='{_f(x2)}' y2='{_f(y)}' stroke='{stroke}' stroke-width='{width}'{d}/>"


def _vline(x, y1, y2, stroke=GRID, width=1, dash=""):
    d = f" stroke-dasharray='{dash}'" if dash else ""
    return f"<line x1='{_f(x)}' y1='{_f(y1)}' x2='{_f(x)}' y2='{_f(y2)}' stroke='{stroke}' stroke-width='{width}'{d}/>"


def _rounded_bar_h(x, y, w, h, fill):
    """Horizontal bar: square at the baseline (left), 4px rounded data-end."""
    r = min(4.0, w / 2, h / 2)
    return (
        f"<path d='M{_f(x)},{_f(y)} h{_f(w - r)} a{_f(r)},{_f(r)} 0 0 1 {_f(r)},{_f(r)} "
        f"v{_f(h - 2 * r)} a{_f(r)},{_f(r)} 0 0 1 {_f(-r)},{_f(r)} h{_f(-(w - r))} z' fill='{fill}'/>"
    )


def _rounded_bar_v(x, y, w, h, fill):
    """Column: square at the baseline (bottom), 4px rounded cap."""
    r = min(4.0, w / 2, h / 2)
    return (
        f"<path d='M{_f(x)},{_f(y + h)} v{_f(-(h - r))} a{_f(r)},{_f(r)} 0 0 1 {_f(r)},{_f(-r)} "
        f"h{_f(w - 2 * r)} a{_f(r)},{_f(r)} 0 0 1 {_f(r)},{_f(r)} v{_f(h - r)} z' fill='{fill}'/>"
    )


def _svg(width: int, height: int, body: list[str], title: str) -> str:
    parts = [
        f"<svg xmlns='http://www.w3.org/2000/svg' width='{width}' height='{height}' "
        f"viewBox='0 0 {width} {height}' role='img' aria-label='{_esc(title)}'>",
        f"<rect width='{width}' height='{height}' fill='{SURFACE}'/>",
        f"<title>{_esc(title)}</title>",
    ]
    parts += body
    parts.append("</svg>")
    return "\n".join(parts)


def _nice_ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    """Clean-number axis ticks covering [lo, hi]."""
    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n, 1)
    mag = 10 ** math.floor(math.log10(raw))
    for mult in (1, 2, 2.5, 5, 10):
        if raw <= mult * mag:
            step = mult * mag
            break
    start = math.ceil(lo / step) * step
    ticks, t = [], start
    while t <= hi + 1e-9:
        ticks.append(round(t, 10))
        t += step
    return ticks


def _fmt_tick(v: float) -> str:
    if abs(v) >= 1000 and float(v).is_integer():
        return f"{int(v):,}"
    if float(v).is_integer():
        return str(int(v))
    return _f(v)


def _legend(entries: Sequence[tuple[str, str]], x: float, y: float) -> list[str]:
    """Swatch + ink-token label per series (never colored text)."""
    out = []
    for i, (name, color) in enumerate(entries):
        yy = y + 18 * i
        out.append(f"<rect x='{_f(x)}' y='{_f(yy - 9)}' width='12' height='12' rx='3' fill='{color}'/>")
        out.append(_text(x + 18, yy + 1, name, size=12, fill=INK_2))
    return out


# ---------------------------------------------------------------------------
# chart builders (pure python over already-reduced data)
# ---------------------------------------------------------------------------

_ML, _MR, _MT, _MB = 64, 24, 44, 46  # plot margins


def hbar_chart(
    items: Sequence[tuple[str, float]],
    title: str,
    x_label: str,
    width: int = 560,
) -> str:
    """Horizontal bars (feature importance reporting.py:792).  Single
    measure: sequential blue (one series, no legend), value labeled at
    the bar tip."""
    n = len(items)
    bar_h, gap = 22, 10
    ml = 150
    height = _MT + n * (bar_h + gap) + _MB
    pw = width - ml - 90  # right reserve for the tip labels
    vmax = max((v for _, v in items), default=1.0) or 1.0
    body = [_text(ml, 24, title, size=15, weight="600")]
    for t in _nice_ticks(0, vmax, 4):
        if 0 <= t <= vmax:
            body.append(_vline(ml + t / vmax * pw, _MT, _MT + n * (bar_h + gap)))
            body.append(_text(ml + t / vmax * pw, _MT + n * (bar_h + gap) + 16, _fmt_tick(t), size=11, fill=INK_2, anchor="middle"))
    for i, (name, v) in enumerate(items):
        y = _MT + i * (bar_h + gap)
        w = max(v / vmax * pw, 0.0)
        if w > 0:
            body.append(_rounded_bar_h(ml, y, w, bar_h, SEQ_BLUE[3]))
        body.append(_text(ml - 8, y + bar_h / 2 + 4, name, size=12, fill=INK, anchor="end"))
        label = _fmt_tick(v) if float(v).is_integer() else _f(v)
        body.append(_text(ml + w + 8, y + bar_h / 2 + 4, label, size=11, fill=INK_2))
    body.append(_vline(ml, _MT, _MT + n * (bar_h + gap), stroke=INK_2))
    body.append(_text(ml + pw / 2, height - 8, x_label, size=12, fill=INK_2, anchor="middle"))
    return _svg(width, height, body, title)


def column_chart(
    items: Sequence[tuple[str, float]],
    title: str,
    y_label: str,
    width: int = 560,
    height: int = 360,
) -> str:
    """Columns (cluster size distribution reporting.py:1224-1283).
    <=24px thick, 4px rounded cap, value on the cap."""
    n = max(len(items), 1)
    pw, ph = width - _ML - _MR, height - _MT - _MB
    vmax = max((v for _, v in items), default=1.0) or 1.0
    slot = pw / n
    bw = min(24.0, slot * 0.6)
    body = [_text(_ML, 24, title, size=15, weight="600")]
    for t in _nice_ticks(0, vmax, 4):
        if 0 <= t <= vmax:
            y = _MT + ph - t / vmax * ph
            body.append(_hline(_ML, _ML + pw, y))
            body.append(_text(_ML - 8, y + 4, _fmt_tick(t), size=11, fill=INK_2, anchor="end"))
    for i, (name, v) in enumerate(items):
        cx = _ML + slot * (i + 0.5)
        h = v / vmax * ph
        if h > 0:
            body.append(_rounded_bar_v(cx - bw / 2, _MT + ph - h, bw, h, SEQ_BLUE[3]))
        body.append(_text(cx, _MT + ph - h - 6, _fmt_tick(v), size=11, fill=INK_2, anchor="middle"))
        body.append(_text(cx, _MT + ph + 18, name, size=11, fill=INK, anchor="middle"))
    body.append(_hline(_ML, _ML + pw, _MT + ph, stroke=INK_2))
    body.append(
        _text(16, _MT + ph / 2, y_label, size=12, fill=INK_2, anchor="middle",
              extra=f"transform='rotate(-90 16 {_f(_MT + ph / 2)})'")
    )
    return _svg(width, height, body, title)


def class_histogram_chart(
    edges: Sequence[float],
    class_counts: dict[str, Sequence[float]],
    title: str,
    x_label: str,
    means: dict[str, float] | None = None,
    width: int = 560,
    height: int = 360,
) -> str:
    """Per-class distribution over shared bins (feature-distribution
    plots reporting.py:251-393) as frequency polygons: one 2px stepped
    line per class (normalized to density so class imbalance doesn't
    flatten the minority class, matching the reference's density=True),
    optional dashed class-mean rules in the series hue."""
    nb = len(edges) - 1
    x0, x1 = edges[0], edges[-1]
    pw, ph = width - _ML - _MR, height - _MT - _MB
    dens: dict[str, list[float]] = {}
    for name, counts in class_counts.items():
        total = sum(counts) or 1.0
        dens[name] = [c / total / ((x1 - x0) / nb or 1.0) for c in counts]
    ymax = max((v for d in dens.values() for v in d), default=1.0) or 1.0

    def X(v):
        return _ML + (v - x0) / (x1 - x0 or 1.0) * pw

    def Y(v):
        return _MT + ph - v / ymax * ph

    body = [_text(_ML, 24, title, size=15, weight="600")]
    for t in _nice_ticks(0, ymax, 4):
        if 0 <= t <= ymax:
            body.append(_hline(_ML, _ML + pw, Y(t)))
            body.append(_text(_ML - 8, Y(t) + 4, _fmt_tick(t), size=11, fill=INK_2, anchor="end"))
    for t in _nice_ticks(x0, x1):
        if x0 <= t <= x1:
            body.append(_text(X(t), _MT + ph + 18, _fmt_tick(t), size=11, fill=INK_2, anchor="middle"))
    body.append(_hline(_ML, _ML + pw, _MT + ph, stroke=INK_2))
    names = sorted(dens)
    for i, name in enumerate(names):
        color = SERIES[i % len(SERIES)]
        d = dens[name]
        pts = []
        for j in range(nb):
            pts.append((X(edges[j]), Y(d[j])))
            pts.append((X(edges[j + 1]), Y(d[j])))
        path = " ".join(f"{'M' if j == 0 else 'L'}{_f(px)},{_f(py)}" for j, (px, py) in enumerate(pts))
        body.append(
            f"<path d='{path}' fill='none' stroke='{color}' stroke-width='2' stroke-linejoin='round'/>"
        )
        if means and name in means and x0 <= means[name] <= x1:
            body.append(_vline(X(means[name]), _MT, _MT + ph, stroke=color, width=2, dash="5 4"))
    body += _legend([(n, SERIES[i % len(SERIES)]) for i, n in enumerate(names)], _ML + pw - 120, _MT + 14)
    body.append(_text(_ML + pw / 2, height - 10, x_label, size=12, fill=INK_2, anchor="middle"))
    body.append(
        _text(16, _MT + ph / 2, "density", size=12, fill=INK_2, anchor="middle",
              extra=f"transform='rotate(-90 16 {_f(_MT + ph / 2)})'")
    )
    return _svg(width, height, body, title)


def confusion_matrix_chart(tn: int, fp: int, fn: int, tp: int, title: str = "Confusion matrix") -> str:
    """2x2 matrix (reporting.py:581-668 table; drawn as sequential-blue
    cells, cell ink picked by fill luminance so labels always clear
    contrast)."""
    cells = [("TN", tn, 0, 0), ("FP", fp, 1, 0), ("FN", fn, 0, 1), ("TP", tp, 1, 1)]
    vmax = max(tn, fp, fn, tp, 1)
    size, x0, y0 = 120, 140, 70
    body = [_text(x0, 24, title, size=15, weight="600")]
    body.append(_text(x0 + size, 46, "predicted", size=12, fill=INK_2, anchor="middle"))
    body.append(_text(x0 + size / 2, 62, "0", size=11, fill=INK_2, anchor="middle"))
    body.append(_text(x0 + 1.5 * size, 62, "1", size=11, fill=INK_2, anchor="middle"))
    body.append(
        _text(x0 - 60, y0 + size, "actual", size=12, fill=INK_2, anchor="middle",
              extra=f"transform='rotate(-90 {x0 - 60} {_f(y0 + size)})'")
    )
    body.append(_text(x0 - 12, y0 + size / 2 + 4, "0", size=11, fill=INK_2, anchor="end"))
    body.append(_text(x0 - 12, y0 + 1.5 * size + 4, "1", size=11, fill=INK_2, anchor="end"))
    for name, v, cx, cy in cells:
        # step the ramp by sqrt so the (usually dominant) TN cell doesn't
        # wash every other cell to the lightest step
        idx = min(int(math.sqrt(v / vmax) * (len(SEQ_BLUE) - 1) + 0.5), len(SEQ_BLUE) - 1)
        fill = SEQ_BLUE[idx]
        ink = INK if idx <= 2 else "#ffffff"
        x, y = x0 + cx * size, y0 + cy * size
        body.append(
            f"<rect x='{x + 1}' y='{y + 1}' width='{size - 2}' height='{size - 2}' rx='4' fill='{fill}'/>"
        )
        body.append(_text(x + size / 2, y + size / 2 - 4, f"{v:,}", size=16, fill=ink, anchor="middle", weight="600"))
        body.append(_text(x + size / 2, y + size / 2 + 16, name, size=11, fill=ink, anchor="middle"))
    return _svg(420, y0 + 2 * size + 30, body, title)


# ---------------------------------------------------------------------------
# Spark-side aggregate builders (bounded reductions)
# ---------------------------------------------------------------------------


def feature_class_histogram(
    df: "DataFrame",
    feature: str,
    label_col: str = "label",
    n_bins: int = 40,
    lo: float | None = None,
    hi: float | None = None,
) -> dict[str, Any]:
    """Shared-bin per-class histogram for one feature, fully reduced in
    Spark: one 1-row min/max agg (skipped when the range is given) and
    one groupBy over (bin, class) — the driver sees <= n_bins*classes
    rows regardless of table size.  Bin rule matches numpy.histogram on
    a fixed range: width = (hi-lo)/n_bins, right-open except the last
    bin which is closed."""
    if lo is None or hi is None:
        row = df.agg(F.min(feature).alias("lo"), F.max(feature).alias("hi")).first()
        lo = float(row["lo"]) if row["lo"] is not None else 0.0
        hi = float(row["hi"]) if row["hi"] is not None else 1.0
    if hi <= lo:
        hi = lo + 1.0
    w = (hi - lo) / n_bins
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(feature) - F.lit(lo)) / F.lit(w)).cast("int")),
    )
    rows = (
        df.where(F.col(feature).isNotNull())
        .groupBy(b.alias("bin"), F.col(label_col).cast("string").alias("cls"))
        .agg(F.count("*").alias("n"), F.avg(feature).alias("mean_part"), F.sum(feature).alias("s"))
        .collect()
    )
    classes = sorted({r["cls"] for r in rows})
    counts = {c: [0.0] * n_bins for c in classes}
    sums = {c: 0.0 for c in classes}
    ns = {c: 0.0 for c in classes}
    for r in rows:
        counts[r["cls"]][int(r["bin"])] = float(r["n"])
        sums[r["cls"]] += float(r["s"])
        ns[r["cls"]] += float(r["n"])
    return {
        "edges": [lo + w * i for i in range(n_bins + 1)],
        "counts": counts,
        "means": {c: (sums[c] / ns[c] if ns[c] else 0.0) for c in classes},
    }


# ---------------------------------------------------------------------------
# report orchestration
# ---------------------------------------------------------------------------


def _table_html(headers: Sequence[str], rows: Sequence[Sequence[Any]]) -> str:
    h = "".join(f"<th>{_esc(c)}</th>" for c in headers)
    body = "".join(
        "<tr>" + "".join(f"<td>{_esc(c)}</td>" for c in r) + "</tr>" for r in rows
    )
    return f"<table><thead><tr>{h}</tr></thead><tbody>{body}</tbody></table>"


_TOP_N_FEATURES = 10  # bars in the feature-importance figure


def write_visual_report(
    out_dir: str,
    clusters: "DataFrame | None" = None,
    classification_metrics: dict[str, Any] | None = None,
    feature_importance: dict[str, dict[str, float]] | None = None,
    score_dist: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Produce the analyst report: SVG figures + an HTML index with every
    figure's backing table embedded (the relief channel for the
    low-contrast palette slots, and the no-color reading path).  Mirrors
    the reference's ReportingStage.execute (reporting.py:72-166) output
    tree: figures/ + report JSON + index.

    Spark inputs are reduced to bounded aggregates before anything
    reaches the renderer: `clusters` to its size buckets, and `score_dist`
    arrives already reduced (feature_class_histogram)."""
    figdir = os.path.join(out_dir, "figures")
    os.makedirs(figdir, exist_ok=True)
    figures: dict[str, str] = {}
    tables: dict[str, str] = {}
    data: dict[str, Any] = {}

    def emit(name: str, svg: str) -> None:
        with open(os.path.join(figdir, f"{name}.svg"), "w") as f:
            f.write(svg)
        figures[name] = f"figures/{name}.svg"

    if score_dist:
        # prediction-time view (no ground truth): probability distribution
        # by PREDICTED class — the honest unlabeled counterpart of the
        # reference's test-set density plots (an ROC against predicted
        # labels would be a degenerate AUC=1.0 and is deliberately not drawn)
        emit(
            "score_distribution",
            class_histogram_chart(
                score_dist["edges"],
                {("match" if c in ("1", "1.0", "true") else "non-match"): cnts
                 for c, cnts in score_dist["counts"].items()},
                "Score distribution by predicted class",
                "probability",
                means={("match" if c in ("1", "1.0", "true") else "non-match"): m
                       for c, m in score_dist["means"].items()},
            ),
        )
        data["score_distribution"] = {
            "edges": score_dist["edges"],
            "counts": score_dist["counts"],
        }

    if classification_metrics:
        cm = classification_metrics.get("confusion_matrix")
        if cm:
            emit(
                "confusion_matrix",
                confusion_matrix_chart(
                    cm["true_negatives"], cm["false_positives"],
                    cm["false_negatives"], cm["true_positives"],
                ),
            )
            tables["confusion_matrix"] = _table_html(
                ["", "pred 0", "pred 1"],
                [
                    ["actual 0", cm["true_negatives"], cm["false_positives"]],
                    ["actual 1", cm["false_negatives"], cm["true_positives"]],
                ],
            )
        data["classification"] = classification_metrics

    if feature_importance:
        imp = sorted(
            ((k, abs(v["weight"]) if isinstance(v, dict) else abs(v)) for k, v in feature_importance.items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[:_TOP_N_FEATURES]
        emit("feature_importance", hbar_chart(imp, "Feature importance (|LR weight|)", "|weight|"))
        tables["feature_importance"] = _table_html(
            ["feature", "|weight|"], [[n, f"{v:.4f}"] for n, v in imp]
        )
        data["feature_importance"] = dict(imp)

    if clusters is not None:
        from .reporting import cluster_report

        rep = cluster_report(clusters)
        order = ["1", "2", "3-5", "6-10", "11-20", "21+"]
        dist = [(b, float(rep["size_distribution"].get(b, 0))) for b in order if b in rep["size_distribution"]]
        emit("cluster_sizes", column_chart(dist, "Cluster size distribution", "clusters"))
        tables["cluster_sizes"] = _table_html(
            ["size bucket", "clusters"], [[b, int(v)] for b, v in dist]
        )
        data["clusters"] = rep

    with open(os.path.join(out_dir, "report_data.json"), "w") as f:
        json.dump(data, f, indent=2, default=float)

    sections = []
    for name, path in figures.items():
        table = tables.get(name, "")
        sections.append(
            f"<section><h2>{_esc(name.replace('_', ' '))}</h2>"
            f"<img src='{_esc(path)}' alt='{_esc(name)}'/>"
            f"{table}</section>"
        )
    index = (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<title>Pipeline report</title><style>"
        f"body{{font-family:system-ui,sans-serif;background:{SURFACE};color:{INK};"
        "max-width:720px;margin:24px auto;padding:0 16px}}"
        "table{border-collapse:collapse;margin:8px 0 24px;font-size:13px}"
        f"td,th{{border:1px solid {GRID};padding:4px 10px;text-align:left}}"
        "td{font-variant-numeric:tabular-nums}"
        "img{max-width:100%}</style></head><body>"
        "<h1>Entity-resolution pipeline report</h1>"
        + "".join(sections)
        + "</body></html>"
    )
    with open(os.path.join(out_dir, "index.html"), "w") as f:
        f.write(index)
    return {"figures": figures, "data": data, "index": os.path.join(out_dir, "index.html")}
