"""Offline HTML report sink (SURVEY §2.1 S10).

The reference renders a plotly figure to a standalone HTML string
(``core/utils/html_generator.py:5-18``).  Here the driver-side analog:
a dependency-free HTML run report built from the lineage/checkpoint
table and bench JSON — out of the hot path, never part of the
correctness surface.
"""

from __future__ import annotations

import html as _html
import json
from typing import Any

from pyspark.sql import SparkSession, functions as F

_PAGE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{title}</title>
<style>
body {{ font: 14px/1.5 system-ui, sans-serif; margin: 2rem; color: #222; }}
table {{ border-collapse: collapse; margin: 1rem 0; }}
td, th {{ border: 1px solid #ccc; padding: .3rem .7rem; text-align: right; }}
th {{ background: #f3f3f3; }}
td:first-child, th:first-child {{ text-align: left; }}
h1 {{ font-size: 1.3rem; }} h2 {{ font-size: 1.1rem; margin-top: 2rem; }}
</style></head><body>
<h1>{title}</h1>
{body}
</body></html>
"""


def _table(rows: list[dict[str, Any]]) -> str:
    if not rows:
        return "<p><em>empty</em></p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{_html.escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>"
        + "".join(f"<td>{_html.escape(str(r.get(c, '')))}</td>" for c in cols)
        + "</tr>"
        for r in rows
    )
    return f"<table><tr>{head}</tr>{body}</table>"


def run_report_html(
    spark: SparkSession,
    checkpoint_path: str,
    bench_json: str | None = None,
    title: str = "extraction run report",
) -> str:
    """Render the lineage table (+ optional bench line) as HTML."""
    from .lineage import read_checkpoint

    sections: list[str] = []
    try:
        ck = read_checkpoint(spark, checkpoint_path)
        if ck is None:
            raise FileNotFoundError(checkpoint_path)
        rows = [
            r.asDict()
            for r in ck.orderBy(F.col("committed_at").desc(), "pid")
            .limit(200)
            .collect()
        ]
        agg = ck.agg(
            F.countDistinct("snapshot_id").alias("snapshots"),
            F.countDistinct("pid").alias("partitions"),
            F.sum("row_count").alias("rows"),
            F.sum("error_count").alias("errors"),
        ).collect()[0]
        sections.append("<h2>Totals</h2>" + _table([agg.asDict()]))
        sections.append("<h2>Committed partitions</h2>" + _table(rows))
    except Exception as exc:
        sections.append(f"<p>no checkpoint table: {_html.escape(str(exc))}</p>")
    if bench_json:
        try:
            b = json.loads(bench_json)
            sections.append(
                "<h2>Bench</h2>"
                + _table(
                    [{"query": k, "sec": v} for k, v in b.get("queries", {}).items()]
                )
            )
        except Exception:
            pass
    return _PAGE.format(title=_html.escape(title), body="".join(sections))


def layout_overlay_svg(
    payload: bytes, page_idx: int = 0, scale: float = 0.5
) -> str:
    """Box-overlay visualization of a parsed PDF page — the
    dependency-free analog of the reference's plotly BBoxVisualizer
    (``core/utils/BBoxVisualizer.py:62-141``): one SVG rect per parsed
    block quad (image coordinates), reading-order index and text as
    labels.  Driver-side debug artifact, never in the hot path."""
    from . import pdf_extract
    from .layout import reading_order

    pages = pdf_extract.pdf_pages(payload)
    if page_idx >= len(pages):
        return "<svg xmlns='http://www.w3.org/2000/svg'/>"
    blocks = pages[page_idx]
    order = reading_order([q for q, _ in blocks]) if blocks else []
    rank_of = {orig: rank for rank, orig in enumerate(order)}
    w = pdf_extract.PAGE_W * scale
    h = pdf_extract.PAGE_H * scale
    parts = [
        f"<svg xmlns='http://www.w3.org/2000/svg' width='{w:.0f}' "
        f"height='{h:.0f}' viewBox='0 0 {pdf_extract.PAGE_W:.0f} "
        f"{pdf_extract.PAGE_H:.0f}' style='background:#fff'>"
    ]
    for i, (quad, text) in enumerate(blocks):
        pts = " ".join(f"{x:.1f},{y:.1f}" for x, y in quad)
        tl_x, tl_y = quad[0]
        parts.append(
            f"<polygon points='{pts}' fill='rgba(30,120,220,0.12)' "
            f"stroke='#1e78dc' stroke-width='1'/>"
            f"<text x='{tl_x + 2:.1f}' y='{tl_y - 2:.1f}' font-size='8' "
            f"fill='#c02'>#{rank_of.get(i, -1)}</text>"
            f"<text x='{tl_x + 2:.1f}' y='{tl_y + 10:.1f}' font-size='9' "
            f"fill='#222'>{_html.escape(text[:60])}</text>"
        )
    parts.append("</svg>")
    return "".join(parts)


def layout_report_html(payload: bytes, title: str = "layout overlay") -> str:
    """Standalone HTML page with one overlay SVG per PDF page —
    html_generator.py:5-18 semantics (figure → standalone HTML)."""
    from . import pdf_extract

    n = len(pdf_extract.pdf_pages(payload))
    body = "".join(
        f"<h2>page {i}</h2>" + layout_overlay_svg(payload, i)
        for i in range(n)
    )
    return _PAGE.format(title=_html.escape(title), body=body)


def write_run_report(
    spark: SparkSession,
    checkpoint_path: str,
    out_path: str,
    bench_json: str | None = None,
) -> None:
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(run_report_html(spark, checkpoint_path, bench_json))
