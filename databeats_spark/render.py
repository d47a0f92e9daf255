"""Dependency-free dashboard rendering — the engine-side completion of
the reference's presentation tier (reference app.py:56-144: Gradio
pages of matplotlib ``barh`` top-20 charts and two-entity feature
comparisons; neither gradio nor matplotlib exists in this image, and a
render tier should not drag a plotting stack into an engine anyway).

Charts are emitted as self-contained HTML with inline SVG built from
plain string formatting — zero imports beyond the stdlib — so the
artifact opens in any browser. The renderer consumes REGISTRY / plan
DataFrames, and every ``.collect()`` here is the presentation-tier
driver action done right: the inputs are already top-k / aggregate
results (top-20 charts, per-nation totals), and a row cap bounds
the transfer so a mis-wired full-table DataFrame cannot flood the
driver.
"""

from __future__ import annotations

import html

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_ROWS = 100  # presentation cap: charts/tables never pull more
SVG_WIDTH = 640

_CSS = """
body { font-family: system-ui, sans-serif; margin: 2rem; color: #222; }
h1 { font-size: 1.4rem; } h2 { font-size: 1.1rem; margin-top: 2rem; }
table { border-collapse: collapse; font-size: 0.85rem; }
th, td { border: 1px solid #ccc; padding: 0.25rem 0.6rem; text-align: left; }
th { background: #f0f0f0; }
.bar { fill: #7f1d1d; }  /* the reference's maroon barh */
.lbl { font-size: 11px; } .val { font-size: 11px; fill: #555; }
.box { fill: #7f1d1d; fill-opacity: 0.35; stroke: #7f1d1d; }
.whisk { stroke: #7f1d1d; } .med { stroke: #7f1d1d; stroke-width: 2; }
.dot { fill: #555; }
"""


def _rows(df: DataFrame, max_rows: int) -> list:
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"render input exceeds the {max_rows}-row presentation cap; "
            "aggregate or top-k the DataFrame before rendering"
        )
    return rows


def bar_chart_svg(
    df: DataFrame,
    label_col: str,
    value_col: str,
    title: str,
) -> str:
    """Horizontal bar chart (the reference's ``plt.barh`` shape) as an
    inline SVG string. Bars are drawn in DataFrame order and truncated
    to the first 20 — the reference's ``[:20]`` head on an ordered
    result — so a 25-nation aggregate simply charts its top 20."""
    rows = df.limit(20).collect()
    if not rows:
        return f"<h2>{html.escape(title)}</h2><p>(no rows)</p>"
    vmax = max(float(r[value_col]) for r in rows) or 1.0
    bar_h, gap, label_w = 18, 6, 220
    height = len(rows) * (bar_h + gap) + 30
    parts = [
        f'<h2>{html.escape(title)}</h2>',
        f'<svg width="{SVG_WIDTH}" height="{height}" role="img" aria-label="{html.escape(title)}">',
    ]
    for i, r in enumerate(rows):
        y = 10 + i * (bar_h + gap)
        val = float(r[value_col])
        w = max(1, int((SVG_WIDTH - label_w - 90) * val / vmax))
        label = html.escape(str(r[label_col]))[:34]
        parts.append(
            f'<text class="lbl" x="{label_w - 6}" y="{y + 13}" text-anchor="end">{label}</text>'
            f'<rect class="bar" x="{label_w}" y="{y}" width="{w}" height="{bar_h}"/>'
            f'<text class="val" x="{label_w + w + 5}" y="{y + 13}">{val:,.2f}</text>'
        )
    parts.append("</svg>")
    return "\n".join(parts)


_DIST_QS = [0.0, 0.1, 0.2, 0.25, 0.3, 0.4, 0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 1.0]
_Q25, _Q50, _Q75 = _DIST_QS.index(0.25), _DIST_QS.index(0.5), _DIST_QS.index(0.75)


def distribution_strip_svg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    title: str,
) -> str:
    """Per-group distribution strip — the render-tier equivalent of the
    reference's RainCloud feature-comparison panel (app.py:93-97): one
    horizontal strip per group with a 25-75% box, a median tick,
    min-max whiskers and decile dots (the 'rain'). The distribution is
    summarized SPARK-SIDE with one percentile_approx aggregation, so
    the driver collect is one row per group regardless of input size —
    the same presentation-tier posture as the bar charts."""
    agg = (
        df.groupBy(group_col)
        .agg(
            F.percentile_approx(value_col, _DIST_QS, 10_000).alias("q"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(group_col)
    )
    rows = _rows(agg, MAX_ROWS)
    if not rows:
        return f"<h2>{html.escape(title)}</h2><p>(no rows)</p>"
    lo = min(float(r["q"][0]) for r in rows)
    hi = max(float(r["q"][-1]) for r in rows)
    span = (hi - lo) or 1.0
    strip_h, gap, label_w, pad_r = 34, 10, 220, 70
    plot_w = SVG_WIDTH - label_w - pad_r

    def x(v: float) -> float:
        return label_w + plot_w * (float(v) - lo) / span

    height = len(rows) * (strip_h + gap) + 30
    parts = [
        f"<h2>{html.escape(title)}</h2>",
        f'<svg width="{SVG_WIDTH}" height="{height}" role="img" aria-label="{html.escape(title)}">',
    ]
    for i, r in enumerate(rows):
        y = 12 + i * (strip_h + gap)
        mid = y + strip_h / 2
        q = [float(v) for v in r["q"]]
        label = html.escape(str(r[group_col]))[:30]
        parts.append(
            f'<text class="lbl" x="{label_w - 6}" y="{mid + 4:.0f}" text-anchor="end">'
            f"{label} (n={int(r['n'])})</text>"
            # min-max whisker
            f'<line class="whisk" x1="{x(q[0]):.1f}" y1="{mid:.1f}" '
            f'x2="{x(q[-1]):.1f}" y2="{mid:.1f}"/>'
            # 25-75% box
            f'<rect class="box" x="{x(q[_Q25]):.1f}" y="{y + 6:.1f}" '
            f'width="{max(1.0, x(q[_Q75]) - x(q[_Q25])):.1f}" height="{strip_h - 12}"/>'
            # median tick
            f'<line class="med" x1="{x(q[_Q50]):.1f}" y1="{y + 3:.1f}" '
            f'x2="{x(q[_Q50]):.1f}" y2="{y + strip_h - 3:.1f}"/>'
        )
        # decile dots (the rain), below the box
        parts.extend(
            f'<circle class="dot" cx="{x(v):.1f}" cy="{y + strip_h - 3:.1f}" r="2"/>'
            for v in q
        )
        parts.append(
            f'<text class="val" x="{x(q[-1]) + 6:.1f}" y="{mid + 4:.0f}">'
            f"{q[_Q50]:,.2f} med</text>"
        )
    parts.append("</svg>")
    return "\n".join(parts)


def table_html(df: DataFrame, title: str, max_rows: int = MAX_ROWS) -> str:
    """Plain HTML table of an (already small) result DataFrame."""
    rows = _rows(df, max_rows)
    cols = df.columns
    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{html.escape(str(r[c]))}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return (
        f"<h2>{html.escape(title)}</h2>"
        f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"
    )


def render_dashboard(
    spark: SparkSession,
    sf_dir: str | None = None,
    out_path: str | None = None,
) -> str:
    """The reference's dashboard page over this engine's queries:
    top-20 bar charts (app.py's Track/Artist/Album-popularity pages,
    re-expressed on the testdata schema) plus audit tables. Returns the
    HTML; writes it to ``out_path`` when given.
    """
    from databeats_spark.registry import queries

    reg = queries()
    specs = (
        ("top_customers", "c_name", "total_spend", "Top 20 customers by spend"),
        ("revenue_by_nation", "n_name", "revenue", "Revenue by nation"),
        ("source_pareto", "source", "tokens", "Corpus tokens by source"),
    )
    parts = ["<!doctype html><html><head><meta charset='utf-8'>",
             f"<style>{_CSS}</style></head><body>",
             "<h1>databeats-spark dashboard</h1>"]
    for name, label_col, value_col, title in specs:
        parts.append(bar_chart_svg(reg[name](spark, sf_dir), label_col, value_col, title))
    # the reference's fifth panel: a per-group feature DISTRIBUTION
    # (audio_dashboard's RainCloud, app.py:93-97) — document length by
    # source here; the strip aggregates Spark-side (one row per source)
    from databeats_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"]).documents
    parts.append(
        distribution_strip_svg(
            docs.select("source", F.size(F.split("text", " ")).alias("n_tok")),
            "source", "n_tok", "Document length distribution by source",
        )
    )
    parts.append(table_html(reg["pricing_summary"](spark, sf_dir), "Pricing summary"))
    parts.append("</body></html>")
    out = "\n".join(parts)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as f:
            f.write(out)
    return out
