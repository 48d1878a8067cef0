"""HTML/byte-stream tokenizer: raw markup → interleaved span sequence.

The north_star's throughput-critical stage: "batched DOM/byte-stream
tokenizer + block classifier". Reference analog: the OCR span producer
(U4, one media row → many text spans, enhanced_extractor.py:518-528) and
the block classifier (U2, :239-372) — re-expressed for web-ish documents.

Frozen rule (config.py): split markup into blocks on block-level tags; per
block emit media spans for every <img src>, then the tag-stripped text span
unless the anchor-word link density exceeds LINK_DENSITY_HTML_MAX
(boilerpipe-style main-content heuristic). Offsets are sequential over
emitted spans, preserving document order.

Two implementations with identical output, golden-tested against each
other (tests/test_tokenizer.py):

  tokenize_html_expr    — pure JVM expressions (split/regexp/HOFs):
                          whole-stage-codegen, zero Python, zero shuffle —
                          the 100 TB path.
  tokenize_html_oracle  — plain-Python frozen kernel (bb_ocr_spark.oracle
                          style) that defines the rule and drives the
                          goldens.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config

_BLOCK = re.compile(config.BLOCK_TAG_RE)
_IMG = re.compile(config.IMG_SRC_RE)
_ANCHOR = re.compile(config.ANCHOR_TEXT_RE)
_TAG = re.compile(config.ANY_TAG_RE)
_WS = re.compile(config.WS_SQUEEZE_RE)


# --------------------------------------------------------------------------
# frozen Python kernel (oracle)
# --------------------------------------------------------------------------


def tokenize_html_oracle(html: str) -> list[dict]:
    spans: list[dict] = []
    off = 0
    for block in _BLOCK.split(html):
        for ref in _IMG.findall(block):
            spans.append(
                {"kind": "media", "text": None, "media_ref": ref, "offset": off}
            )
            off += 1
        text = _WS.sub(" ", _TAG.sub(" ", block)).strip()
        if not text:
            continue
        words = text.split(" ")
        anchor_words = sum(
            len([w for w in _WS.sub(" ", a).strip().split(" ") if w])
            for a in _ANCHOR.findall(block)
        )
        if anchor_words / len(words) > config.LINK_DENSITY_HTML_MAX:
            continue
        spans.append({"kind": "text", "text": text, "media_ref": None, "offset": off})
        off += 1
    return spans


# --------------------------------------------------------------------------
# JVM expression implementation (default)
# --------------------------------------------------------------------------


def _block_spans_col(html: Column) -> Column:
    """Per-block span arrays (media then text), before offset assignment.

    Two-level transform: level 1 binds each block's EXPENSIVE derivations
    (tag-stripped text, anchor word count) as struct fields — a HOF lambda
    VARIABLE is a bound value, so each is computed once per block; the
    single-level form re-evaluated the tag-strip regex chain 3x per block
    (emptiness test, word count, emission) because expression trees
    duplicate at construction time (no CSE across HOF lambdas). Level 2
    assembles spans from the cheap struct fields. On the synthetic bench
    corpus the win is small (0.55s -> 0.53s at 20k docs — the anchor/img
    regexp_extract_all passes dominate there and were already
    single-evaluation); the shape matters on text-heavy blocks where the
    triple tag-strip was the bottleneck."""
    blocks = F.split(html, config.BLOCK_TAG_RE)

    def derive(block: Column) -> Column:
        text = F.trim(
            F.regexp_replace(
                F.regexp_replace(block, config.ANY_TAG_RE, " "),
                config.WS_SQUEEZE_RE,
                " ",
            )
        )
        anchor_words = F.aggregate(
            F.regexp_extract_all(block, F.lit(config.ANCHOR_TEXT_RE), F.lit(1)),
            F.lit(0),
            lambda acc, a: acc
            + F.size(
                F.filter(
                    F.split(F.trim(F.regexp_replace(a, config.WS_SQUEEZE_RE, " ")), " "),
                    lambda w: w != "",
                )
            ),
        )
        refs = F.regexp_extract_all(block, F.lit(config.IMG_SRC_RE), F.lit(1))
        return F.struct(
            refs.alias("refs"), text.alias("text"), anchor_words.alias("aw")
        )

    def spans_of(d: Column) -> Column:
        media = F.transform(
            d["refs"],
            lambda ref: F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                ref.alias("media_ref"),
            ),
        )
        text = d["text"]
        n_words = F.size(F.split(text, " "))  # text is squeezed; no empties
        keep_text = (text != "") & (
            d["aw"].cast("double") / n_words <= F.lit(config.LINK_DENSITY_HTML_MAX)
        )
        text_span = F.when(
            keep_text,
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    text.alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string>>"))
        return F.concat(media, text_span)

    return F.flatten(F.transform(F.transform(blocks, derive), spans_of))


def tokenized_spans_col(html: Column) -> Column:
    """array<struct<kind,text,media_ref,offset>> with sequential offsets."""
    return F.transform(
        _block_spans_col(html),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def tokenize_html_expr(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, html) → (doc_id, spans) — narrow, JVM-only, zero shuffle."""
    return df.select(
        "doc_id", tokenized_spans_col(F.col(html_col)).alias("spans")
    )
