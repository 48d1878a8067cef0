"""Reading-order recovery for OCR/PDF layout regions (recursive XY-cut).

Reference analog: the OCR engine returns region boxes in its own reading
order (test_easyocr.py:50-53 `(bbox, text, conf)`), and the block
classifier unions bboxes (enhanced_extractor.py:239-372). Here the
engine does the ordering itself: classic recursive XY-cut — split on the
widest whitespace gap in the vertical projection (top-to-bottom bands),
then the horizontal projection (left-to-right columns), recurse; leaves
ordered by (y0, x0). Deterministic, pure.

Spark side: one doc's regions ride in one array cell, so ordering is a
mapInPandas stage over Arrow batches (no shuffle, no per-row Python at the
driver). The kernel (`xy_cut_order`) is the frozen single-node oracle; the
distributed stage calls the same function — plumbing equality is tested
across parallelism levels and kernel semantics on hand-built layouts
(tests/test_layout.py).

Output feeds the standard span pipeline: region reading order → `offset`,
text spans ready for assemble/extract.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from .extract import SPANS_SCHEMA_DDL


def _widest_gap(intervals: list[tuple[float, float]]) -> tuple[float, float]:
    """(width, cut position) of the widest gap in the merged projection;
    (0, 0) when the projection is contiguous."""
    if not intervals:
        return 0.0, 0.0
    ivs = sorted(intervals)
    merged = [list(ivs[0])]
    for a, b in ivs[1:]:
        if a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    best, cut = 0.0, 0.0
    for (_, e1), (s2, _) in zip(merged, merged[1:]):
        if s2 - e1 > best:
            best, cut = s2 - e1, (e1 + s2) / 2.0
    return best, cut


def xy_cut_order(regions: list[dict], min_gap: float = 1.0) -> list[dict]:
    """Regions (x0,y0,x1,y1,text dicts) → same dicts in reading order.

    At each recursion, cut at the single WIDEST whitespace gap across
    either projection (a full-height column gutter out-ranks inter-line
    leading, so two-column pages read left column before right; a
    full-width title band out-ranks the gutter and reads first). Ties
    prefer the horizontal (y-projection) cut. No separating whitespace →
    raster (y0, x0) order."""
    if len(regions) <= 1:
        return list(regions)
    y_w, y_cut = _widest_gap([(r["y0"], r["y1"]) for r in regions])
    x_w, x_cut = _widest_gap([(r["x0"], r["x1"]) for r in regions])
    if max(y_w, x_w) > min_gap:
        if y_w >= x_w:  # top band, then bottom band
            first = [r for r in regions if r["y0"] < y_cut]
            second = [r for r in regions if r["y0"] >= y_cut]
        else:  # left column, then right column
            first = [r for r in regions if r["x0"] < x_cut]
            second = [r for r in regions if r["x0"] >= x_cut]
        return xy_cut_order(first, min_gap) + xy_cut_order(second, min_gap)
    return sorted(regions, key=lambda r: (r["y0"], r["x0"], r["text"] or ""))


def order_regions(
    df: DataFrame,
    regions_col: str = "regions",
    min_gap: float = 1.0,
) -> DataFrame:
    """(doc_id, regions[]) → (doc_id, spans[]) with offset = reading order.

    mapInPandas over Arrow batches; one doc per row, narrow, zero shuffle.
    """
    import pandas as pd  # noqa: PLC0415

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            spans_out = []
            for regions in pdf[regions_col]:
                ordered = xy_cut_order(
                    [
                        {
                            "x0": r["x0"],
                            "y0": r["y0"],
                            "x1": r["x1"],
                            "y1": r["y1"],
                            "text": r["text"],
                        }
                        for r in regions
                    ],
                    min_gap,
                )
                spans_out.append(
                    [("text", r["text"], None, i) for i, r in enumerate(ordered)]
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": spans_out})

    return df.select("doc_id", regions_col).mapInPandas(
        run, schema=SPANS_SCHEMA_DDL
    )
