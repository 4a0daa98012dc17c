"""HTML report + chart sink: the reference's report.py/viz.py re-expressed.

Parity target: reference ``report.py:117-177`` (Jinja render of a period
summary + recommendation + embedded charts, saved to ``reports/{slug}.html``)
and ``viz.py:212-225`` (chart HTML embedding / per-file save). This engine
keeps the analytics IN Spark (global_summary / daily_agg /
recommendation_text are registered, oracle-checked queries); the report is
the serving edge — it collects those small results (30 daily rows + 1
summary row) and renders with the stdlib only:

- ``string.Template`` + ``html.escape`` replace Jinja (zero deps).
- Charts are inline SVG built from the collected rows (replacing
  Altair/Vega): a daily-average line and a daily-total bar chart, one
  series each, with native ``<title>`` hover tooltips, direct labels on
  the extremes only, and light/dark styling via CSS custom properties.
- Number formatting (reference ``report.py:129-133`` ``f"{x:.1f}"``,
  SURVEY §2 C6) is :func:`fmt1`; the Spark-side column form is
  ``F.format_number(col, 1)`` (used by ``formatted`` CLI output paths).

Scale note: everything rendered here is already aggregated to a bounded
size by the engine (days in period, one summary row). The collect is the
K3 serving-edge pattern — never a corpus-sized collect.
"""

from __future__ import annotations

import html
from pathlib import Path
from string import Template

# Categorical slot 1 of the validated default palette (single-series
# charts need exactly one hue; dark step is the same hue re-stepped for
# the dark surface).
_SERIES_LIGHT = "#2a78d6"
_SERIES_DARK = "#3987e5"


def fmt1(x: float | None) -> str:
    """One-decimal display formatting with a dash for missing values
    (reference report.py:129-133)."""
    return "-" if x is None else f"{x:.1f}"


def _scale(values: list[float], lo_px: float, hi_px: float) -> list[float]:
    vmin, vmax = min(values), max(values)
    span = (vmax - vmin) or 1.0
    return [lo_px + (v - vmin) / span * (hi_px - lo_px) for v in values]


_CHART_W, _CHART_H = 640, 220  # SVG chart size in px

_SVG_STYLE = (
    '<style>.viz{color-scheme:light dark}'
    ".viz .mark{stroke:%s;fill:%s}.viz .fillmark{fill:%s;stroke:none}"
    ".viz text{font:11px system-ui;fill:#52514e}"
    ".viz .grid{stroke:#d9d8d3;stroke-width:1}"
    "@media (prefers-color-scheme:dark){"
    ".viz .mark{stroke:%s;fill:%s}.viz .fillmark{fill:%s}"
    ".viz text{fill:#c3c2b7}.viz .grid{stroke:#3a3a38}}"
    "</style>"
) % (_SERIES_LIGHT, _SERIES_LIGHT, _SERIES_LIGHT,
     _SERIES_DARK, _SERIES_DARK, _SERIES_DARK)


def svg_line_chart(points: list[tuple[str, float]], *, title: str ) -> str:
    """Single-series line chart as standalone inline SVG.

    Mark spec: 2px line, 3px radius point markers with native <title>
    tooltips, recessive grid, direct labels on min/max only (selective,
    never every point).
    """
    if not points:
        return f'<svg class="viz" role="img" aria-label="{html.escape(title)}"></svg>'
    pad, top, bottom = 40, 24, 20
    xs = _scale(list(range(len(points))), pad, _CHART_W - 12)
    vals = [v for _, v in points]
    ys = _scale(vals, _CHART_H - bottom, top)  # inverted: bigger = higher
    path = " ".join(f"{'M' if i == 0 else 'L'}{x:.1f},{y:.1f}" for i, (x, y) in enumerate(zip(xs, ys)))
    imin, imax = vals.index(min(vals)), vals.index(max(vals))
    marks = []
    for i, ((label, v), x, y) in enumerate(zip(points, xs, ys)):
        marks.append(
            f'<circle class="mark" cx="{x:.1f}" cy="{y:.1f}" r="3">'
            f"<title>{html.escape(label)}: {fmt1(v)}</title></circle>"
        )
        if i in (imin, imax):
            dy = -8 if i == imax else 14
            marks.append(
                f'<text x="{x:.1f}" y="{y + dy:.1f}" text-anchor="middle">{fmt1(v)}</text>'
            )
    grid = "".join(
        f'<line class="grid" x1="{pad}" x2="{_CHART_W - 12}" y1="{gy:.1f}" y2="{gy:.1f}"/>'
        for gy in _scale([0, 0.5, 1], _CHART_H - bottom, top)
    )
    return (
        f'<svg class="viz" role="img" aria-label="{html.escape(title)}" '
        f'viewBox="0 0 {_CHART_W} {_CHART_H}" width="{_CHART_W}" height="{_CHART_H}">{_SVG_STYLE}'
        f'<text x="{pad}" y="14">{html.escape(title)}</text>{grid}'
        f'<path class="mark" d="{path}" fill="none" stroke-width="2"/>'
        f"{''.join(marks)}</svg>"
    )


def svg_bar_chart(points: list[tuple[str, float]], *, title: str ) -> str:
    """Single-series bar chart: 4px-rounded data ends anchored to the
    baseline (square bottoms via an overlap rect), 2px gaps, native
    <title> tooltips."""
    if not points:
        return f'<svg class="viz" role="img" aria-label="{html.escape(title)}"></svg>'
    pad, top, bottom = 40, 24, 20
    vals = [max(v, 0.0) for _, v in points]
    vmax = max(vals) or 1.0
    plot_w = _CHART_W - 12 - pad
    bw = max(plot_w / len(points) - 2, 1)  # 2px surface gap between bars
    base = _CHART_H - bottom
    bars = []
    for i, (label, v) in enumerate(points):
        h = (vals[i] / vmax) * (base - top)
        x = pad + i * (bw + 2)
        y = base - h
        r = min(4.0, bw / 2, h)
        bars.append(
            f'<path class="fillmark" d="M{x:.1f},{base:.1f} V{y + r:.1f} '
            f"Q{x:.1f},{y:.1f} {x + r:.1f},{y:.1f} H{x + bw - r:.1f} "
            f"Q{x + bw:.1f},{y:.1f} {x + bw:.1f},{y + r:.1f} V{base:.1f} Z\">"
            f"<title>{html.escape(label)}: {fmt1(v)}</title></path>"
        )
    grid = (
        f'<line class="grid" x1="{pad}" x2="{_CHART_W - 12}" y1="{base}" y2="{base}"/>'
    )
    return (
        f'<svg class="viz" role="img" aria-label="{html.escape(title)}" '
        f'viewBox="0 0 {_CHART_W} {_CHART_H}" width="{_CHART_W}" height="{_CHART_H}">{_SVG_STYLE}'
        f'<text x="{pad}" y="14">{html.escape(title)}</text>{grid}{"".join(bars)}</svg>'
    )


_REPORT_TPL = Template(
    """<!doctype html><meta charset="utf-8"><title>Report $title</title>
<style>
 body{font:14px system-ui;max-width:720px;margin:2rem auto;color:#0b0b0b;background:#fcfcfb}
 @media (prefers-color-scheme:dark){body{color:#ffffff;background:#1a1a19}}
 table{border-collapse:collapse}td,th{padding:2px 10px;text-align:left}
</style>
<h1>Period report — $title</h1>
<p>Period: $start to $end</p>
<ul>
  <li>Period average: $period_avg</li>
  <li>Period max: $period_max</li>
  <li>Wettest day: $wettest_date ($wettest_total)</li>
  <li>Active days: $rainy_days of $n_days</li>
</ul>
<h2>Charts</h2>
$chart_line
$chart_bars
<h2>Recommendation</h2>
<p>$recommendation</p>
<h2>Data</h2>
<table><tr><th>date</th><th>avg</th><th>total</th></tr>$table_rows</table>
"""
)


def render_report(
    *,
    title: str,
    summary: dict,
    daily: list[dict],
    recommendation: str,
) -> str:
    """Render the report HTML from collected query outputs.

    ``summary`` is a ``global_summary`` row; ``daily`` is the collected
    daily table (dicts with date/vavg/vsum). The data table fulfills the
    accessibility table-view requirement for the charts.
    """
    e = lambda v: html.escape(str(v))  # noqa: E731
    line = svg_line_chart(
        [(str(d["date"]), d["vavg"]) for d in daily], title="Daily average"
    )
    bars = svg_bar_chart(
        [(str(d["date"]), d["vsum"]) for d in daily], title="Daily total"
    )
    rows = "".join(
        f"<tr><td>{e(d['date'])}</td><td>{fmt1(d['vavg'])}</td><td>{fmt1(d['vsum'])}</td></tr>"
        for d in daily
    )
    dates = [str(d["date"]) for d in daily]
    return _REPORT_TPL.substitute(
        title=e(title),
        start=e(min(dates) if dates else "-"),
        end=e(max(dates) if dates else "-"),
        period_avg=e(fmt1(summary.get("period_avg"))),
        period_max=e(fmt1(summary.get("period_max"))),
        wettest_date=e(summary.get("wettest_date", "-")),
        wettest_total=e(fmt1(summary.get("wettest_sum"))),
        rainy_days=e(summary.get("rainy_days", 0)),
        n_days=e(summary.get("n_days", len(daily))),
        chart_line=line,
        chart_bars=bars,
        recommendation=e(recommendation),
        table_rows=rows,
    )


def save_report(spark, sf_dir: str, out_path: str | Path | None = None) -> str:
    """Run the report queries and write ``reports/events.html`` (the
    reference's ``reports/{slug}.html``, report.py:170-175)."""
    from etl_weather_spark import queries as q

    summary = q.global_summary(spark, sf_dir).collect()[0].asDict()
    daily = [r.asDict() for r in q.daily_agg(spark, sf_dir).orderBy("date").collect()]
    rec_rows = q.recommendation_text(spark, sf_dir).collect()
    rec = rec_rows[0]["recommendation"] if rec_rows else ""
    html_text = render_report(
        title="events", summary=summary, daily=daily, recommendation=str(rec)
    )
    path = Path(out_path) if out_path else Path("reports") / "events.html"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(html_text, encoding="utf-8")
    return str(path)
