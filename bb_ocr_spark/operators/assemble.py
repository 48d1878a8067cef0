"""Span assembly for EXPLODED span-row inputs (SURVEY §2.4 A10).

When spans arrive as one row per span (e.g. an OCR stage emitting
`(doc_id, kind, text, media_ref, offset)` rows), reassembling each doc's
offset-ordered sequence is the throughput-critical aggregation:

    groupBy(doc_id).agg(array_sort(collect_list(struct(offset, ...))))

A single hot doc with 10^5+ spans makes one reducer the straggler (and can
OOM the collect_list buffer). Every doc therefore takes one salted
two-phase aggregation over one scan (SURVEY §4 item 1):

  phase 1: groupBy(doc_id, salt)   salt = offset % B for big docs, 0 else
           → per-bucket sub-arrays (map-side partial aggregation applies)
  phase 2: groupBy(doc_id) → flatten sub-arrays → ONE global array_sort
           (sort must be global per doc, not per salt bucket — order
           correctness under salting is exactly the hard part called out
           in SURVEY §7)

The output does not depend on the salt; it only spreads a big doc's rows
over B reducers. Small docs form one bucket, so their arrays cross both
shuffles. That is the price of running the input's explode and the keep
kernel of `filter_spans` once: routing small docs through a separate
single-shuffle branch re-scans the input for each branch, and Catalyst
runs the whole keep kernel on every span in both. Measured on a 10k-doc
corpus at local[4], one assembly pass: task CPU 6.5 s (two branches) vs
4.4 s (one aggregation), 5 vs 4 stages, shuffle writes 4.5 vs 7.6 MB.

Reference parity: ordered page/span assembly of enhanced_extractor.py:
520-521,563-586 (page texts appended in index order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config

def explode_spans(documents_interleaved: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span + n_spans (for salting).

    n_spans is folded INTO each span struct before the inline: if it were a
    separate `size(spans)` projection, Catalyst collapses it past the
    Generate, keeps the whole array in the generator's required output, and
    every exploded row carries a copy — O(n²) per doc, a ~30× slowdown on
    mega-docs (observed: 187 s vs 6 s on the sf0.1 bench corpus)."""
    with_n = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
            F.size("spans").alias("n_spans"),
        ),
    )
    return documents_interleaved.select("doc_id", F.inline(with_n))


def assemble_spans(
    exploded: DataFrame,
    salt_threshold: int = config.BIG_DOC_SPAN_THRESHOLD,
    salt_buckets: int = config.ASSEMBLY_SALT_BUCKETS,
) -> DataFrame:
    """Exploded span rows → (doc_id, spans array<struct<kind,text,media_ref>>)
    offset-ordered, via salted two-phase aggregation.

    Requires an `n_spans` column (doc's total span count) so the salt
    decision is row-local — no extra count shuffle. `explode_spans`
    provides it; producers that don't know it can pass n_spans = a large
    constant to force salting, or use `with_span_counts`.
    """
    span_struct = F.struct("offset", "kind", "text", "media_ref")
    # One scan and one pass of the keep kernel for every doc: the salt
    # only spreads big docs, phase 2 sorts each doc globally either way.
    # A NULL n_spans takes salt 0, so such rows are still assembled.
    salt = F.when(
        F.col("n_spans") > salt_threshold, F.pmod("offset", F.lit(salt_buckets))
    ).otherwise(0)
    phase1 = exploded.groupBy("doc_id", salt.alias("salt")).agg(
        F.collect_list(span_struct).alias("part")
    )
    keyed = phase1.groupBy("doc_id").agg(
        F.array_sort(F.flatten(F.collect_list("part"))).alias("keyed")
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


def with_span_counts(exploded: DataFrame) -> DataFrame:
    """Attach n_spans via a window (one shuffle) for producers that emit
    bare span rows without the count."""
    from pyspark.sql import Window

    return exploded.withColumn(
        "n_spans", F.count("*").over(Window.partitionBy("doc_id"))
    )


def filter_spans(exploded: DataFrame) -> DataFrame:
    """Row-level form of the inline keep rule (the same `keep_span_pred`
    and `kept_text_col`): apply BEFORE assembly so dropped spans never
    shuffle."""
    from .extract import keep_span_pred, kept_text_col

    span = F.struct("kind", "text")
    return exploded.filter(keep_span_pred(span)).withColumn("text", kept_text_col(span))
