"""Span assembly for EXPLODED span-row inputs (SURVEY §2.4 A10).

When spans arrive as one row per span (e.g. an OCR stage emitting
`(doc_id, kind, text, media_ref, offset)` rows), reassembling each doc's
offset-ordered sequence is the throughput-critical aggregation. It is one
aggregation and one shuffle:

    groupBy(doc_id).agg(sort_array(collect_list(struct(offset, ...))))

There is no salt for mega-doc skew. A salted two-phase form (phase 1 per
`(doc_id, offset % B)` for big docs, phase 2 flatten and sort per doc)
bought no parallelism on the critical path: the map-side partial
`collect_list` already spreads the row-level work over every map task,
and phase 2 still gathered and globally sorted all of a doc's spans on one
reducer. It cost a second shuffle of every kept span, one more stage, two
knobs and an `n_spans` column on every row. Measured on the perfbench
`assemble_exploded` corpus at local[4] (4-core host, two traced runs per
form): 4 → 3 stages, shuffle writes 7.96-8.19 → 3.97-4.08 MB, task CPU
3.46-3.87 → 2.39-2.66 s, task-time skew 1.09-1.15 → 1.24-1.31.

Order correctness (SURVEY §7) rests on the one global per-doc sort, never
on the order in which partial buffers merge. `sort_array` (codegen'd)
gives the same order as `array_sort` here because `collect_list` never
yields a NULL element.

Reference parity: ordered page/span assembly of enhanced_extractor.py:
520-521,563-586 (page texts appended in index order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_spans(documents_interleaved: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span: (doc_id, kind, text, media_ref,
    offset).

    Project nothing computed from `spans` beside the inline: Catalyst would
    collapse such a projection (e.g. `size(spans)`) past the Generate, keep
    the whole array in the generator's required output, and every exploded
    row would carry a copy — O(n²) per doc, a ~30× slowdown on mega-docs
    (observed: 187 s vs 6 s on the sf0.1 bench corpus)."""
    return documents_interleaved.select("doc_id", F.inline("spans"))


def assemble_spans(exploded: DataFrame) -> DataFrame:
    """Exploded span rows → (doc_id, spans array<struct<kind,text,media_ref>>)
    offset-ordered, via one aggregation on doc_id."""
    keyed = exploded.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ).alias("keyed")
    )
    return keyed.select(
        "doc_id",
        F.transform(
            "keyed",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        ).alias("spans"),
    )


def filter_spans(exploded: DataFrame) -> DataFrame:
    """Row-level form of the inline keep rule (the same `keep_span_pred`
    and `kept_text_col`): apply BEFORE assembly so dropped spans never
    shuffle."""
    from .extract import keep_span_pred, kept_text_col

    span = F.struct("kind", "text")
    return exploded.filter(keep_span_pred(span)).withColumn("text", kept_text_col(span))
