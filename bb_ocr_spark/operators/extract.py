"""Main-content extraction over the interleaved spans table — the flagship.

Because the input holds one row per document with the FULL span array, the
whole extraction (classify → strip boilerplate → restore offset order →
re-emit with media refs interleaved) is expressed with higher-order array
functions: a NARROW, zero-shuffle, map-only plan. At 10^12 docs this is
embarrassingly parallel — no groupBy, no skew, scaling efficiency ≈ 1.0 —
and every expression is JVM-side (whole-stage codegen), no Python in the
hot path at all.

Mega-doc skew costs nothing here: a 10^5-span doc is one wide row processed
vectorized; there is no hot reduce key. (The salted two-phase path for
inputs that arrive as EXPLODED span rows lives in operators/assemble.py.)

Reference parity: boilerplate strip = block classifier analog
(enhanced_extractor.py:239-372 density-mask block detection); empty-text
filter (enhanced_extractor.py:689,706-707); offset ordering = sorted page
listing (enhanced_extractor.py:1024); media passthrough = interleaving of
image pages with OCR spans. Rules frozen in config.py, oracle in oracle.py.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config

# one row per document with its full span array: the input of the
# extraction, the streaming source and the reading-order stage
SPANS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
OUT_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string>>"
)


def is_boilerplate_text_col(text: Column) -> Column:
    """Link-density + alnum-density classifier, identical semantics to
    oracle.is_boilerplate_text. Assumes text is non-null and non-blank.

    Counting is done with regexp_count — no split() token arrays, no
    regexp_replace string rewrites: the classifier runs on every span of
    every document, and string-rewrite counting was 18 s of a 20 s
    extraction at sf0.1.
      ntok  = # non-ws runs           (== len(split tokens))
      nlink = # tokens matching LINK_TOKEN_RE, via the same alternatives
              fenced by ws/edge lookarounds (token-exact match)
      alnum / nonws = per-char class counts via translate() — a charmap
              delete, no regex engine at all (fastest of the three forms
              A/B-measured: string-rewrite 18 s > regexp_count 13.4 s >
              translate 12.5 s for the full filter at sf0.1/2 cores)

    Both regexp_counts sit behind a substring test on
    config.LINK_TOKEN_MARKERS: a text without a marker has nlink == 0 and
    (being non-blank) ntok >= 1, so its link test is False without
    counting. Only nav-like spans hold a marker.

    Ablation, one expression swapped for a constant: CPU s saved per
    exploded-assembly op (median of 6 interleaved, 10k-doc perfbench
    corpus seed 43, local[4], 4-core host; whole op 5.02 s before the
    guards, 3.76 s after, 2.52 s with no filter_spans at all):
      expression                          before   after
      token regexp_count                  0.41     0.08
      link regexp_count (lookbehind)      0.31*    guarded; unguarding +1.03
      two translate()s                    0.99     0.57
      normalisation regex(es)             0.35     ~0; unguarding +0.45
      whole classifier                    1.72     0.70
      whole keep kernel                   2.50     1.24
    * a constant nlink also keeps the nav spans, whose assembly hides
      part of the saving. The translates now dominate the kernel.
    """
    import string  # noqa: PLC0415

    alnum_chars = string.ascii_letters + string.digits
    ntok = F.regexp_count(text, F.lit(r"[^ \t\n\r]+"))
    nlink = F.regexp_count(text, F.lit(config.LINK_TOKEN_COUNT_RE))
    has_marker = _contains_any(text, config.LINK_TOKEN_MARKERS)
    link_dense = F.when(
        has_marker, nlink.cast("double") / ntok > F.lit(config.LINK_DENSITY_MAX)
    ).otherwise(False)
    alnum = F.length(text) - F.length(F.translate(text, alnum_chars, ""))
    nonws = F.length(F.translate(text, " \t\n\r", ""))
    return link_dense | (alnum.cast("double") / nonws < F.lit(config.ALNUM_DENSITY_MIN))


def normalize_text_col(text: Column) -> Column:
    """oracle.normalize_text: strip ASCII whitespace, squeeze inner runs.

    Squeeze first, then trim(): after the squeeze 0x20 is the only ASCII
    whitespace left, and Spark's trim() strips exactly 0x20. A text with
    no tab/newline/CR, no double space and no edge space is already
    normal, so the regex runs only on texts holding one of those."""
    needs_work = (
        _contains_any(text, config.WS_NORMALIZE_TRIGGERS)
        | text.startswith(" ")
        | text.endswith(" ")
    )
    squeezed = F.trim(F.regexp_replace(text, config.WS_SQUEEZE_RE, " "))
    return F.when(needs_work, squeezed).otherwise(text)


def _contains_any(text: Column, needles: tuple[str, ...]) -> Column:
    return functools.reduce(lambda a, b: a | b, (text.contains(n) for n in needles))


def keep_span_pred(s: Column) -> Column:
    """True for spans (structs with `kind` and `text`) that survive."""
    # contains-a-non-ws-char == trim(text) != '', without the trim allocation
    nonblank = s["text"].isNotNull() & s["text"].rlike(r"[^ \t\n\r]")
    return (s["kind"] == "media") | (
        (s["kind"] == "text") & nonblank & ~is_boilerplate_text_col(s["text"])
    )


def kept_text_col(s: Column) -> Column:
    """A kept span's text: normalized for text, NULL for media (oracle)."""
    return F.when(s["kind"] == "text", normalize_text_col(s["text"]))


def extracted_spans_col(spans: Column) -> Column:
    """array<struct<kind,text,media_ref>> — the golden-comparable sequence.

    filter → lift offset to the leading struct field → array_sort
    (lexicographic ⇒ offset order; offsets unique per doc) → drop offset.
    """
    kept = F.filter(spans, keep_span_pred)
    keyed = F.transform(
        kept,
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            kept_text_col(s).alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    return F.transform(
        F.array_sort(keyed),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )


def extract_inline(df: DataFrame) -> DataFrame:
    """documents_interleaved → (doc_id, spans) extracted, offset-ordered."""
    return df.select("doc_id", extracted_spans_col(F.col("spans")).alias("spans"))


def context_text_col(extracted: Column) -> Column:
    """Length-capped joined text context for metadata extraction.

    Spans longer than MAX_CONTEXT_CHARS_PER_SPAN are dropped from context
    (reference max_ocr_chars_per_image guard, enhanced_extractor.py:690-705);
    join with single spaces (enhanced_extractor.py:520-521).
    """
    texts = F.transform(
        F.filter(
            extracted,
            lambda s: (s["kind"] == "text")
            & (F.length(s["text"]) <= config.MAX_CONTEXT_CHARS_PER_SPAN),
        ),
        lambda s: s["text"],
    )
    return F.array_join(texts, " ")


def checksum_spans_col(extracted: Column) -> Column:
    """Order-sensitive 64-bit checksum of a span sequence WITHOUT
    materializing a serialized string: per-span xxhash64 over
    (position, kind, text, media_ref), folded with xor.

    The serialize-then-hash alternative builds a ~300 KB UTF8 string per
    mega-doc — measured memory-bandwidth-bound (0.41 scaling efficiency at
    8→32 cores vs 1.09 for the extraction itself). This fold stays in
    registers."""
    per_span = F.transform(
        extracted,
        lambda s, i: F.xxhash64(
            i,
            s["kind"],
            F.coalesce(s["text"], F.lit("\x00")),
            F.coalesce(s["media_ref"], F.lit("\x00")),
        ),
    )
    return F.aggregate(
        per_span, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )


def serialize_spans_col(extracted: Column) -> Column:
    """Stable string encoding of a span sequence (for checksums / oracles):
    unit-separated fields, record-separated spans."""
    return F.array_join(
        F.transform(
            extracted,
            lambda s: F.concat_ws(
                "\x1f",
                s["kind"],
                F.coalesce(s["text"], F.lit("\x00")),
                F.coalesce(s["media_ref"], F.lit("\x00")),
            ),
        ),
        "\x1e",
    )
