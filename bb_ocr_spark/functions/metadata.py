"""Heuristic deterministic metadata extraction (U9) — pure Spark SQL exprs.

Reference: hueristics/book_extractor.py:43-178 (regex ISBN/year/publisher/
price, first-match-wins pattern lists at :76-113, genre keyword argmax at
:149-178) and the fixed metadata schema of enhanced_extractor.py:57-92.
Fully vectorizable — no UDFs; every regex is constant-folded by Catalyst.

Exact-match oracle: oracle.extract_metadata.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config
from ..operators.extract import context_text_col, extract_inline


def _first_match(ctx: Column, pattern: str) -> Column:
    """First regex capture in ctx, NULL when absent (re.search semantics)."""
    return F.nullif(F.regexp_extract(ctx, pattern, 1), F.lit(""))


def _strip_isbn(c: Column) -> Column:
    return F.regexp_replace(c, "[- ]", "")


def genre_col(ctx: Column) -> Column:
    """Keyword-count argmax over GENRE_KEYWORDS; earliest genre wins ties;
    NULL when no keyword hits (book_extractor.py:149-178 semantics)."""
    toks = F.split(F.lower(ctx), r"\s+")

    def hits(kws: list[str]):
        # closure (not default-arg) — pyspark infers HOF lambda arity from
        # the signature, so the lambda must take exactly one parameter
        return F.size(F.filter(toks, lambda t: t.isin(*kws)))

    scored = F.array(
        *[
            F.struct(
                hits(kws).alias("cnt"),
                F.lit(-i).alias("neg_idx"),
                F.lit(g).alias("genre"),
            )
            for i, (g, kws) in enumerate(config.GENRE_KEYWORDS.items())
        ]
    )
    best = F.array_max(scored)
    return F.when(best["cnt"] > 0, best["genre"])


def metadata_cols_from(extracted_spans: Column, ctx: Column) -> list[Column]:
    first_text = F.filter(extracted_spans, lambda s: s["kind"] == "text")
    title = F.try_element_at(first_text, F.lit(1))["text"]
    isbn13 = _first_match(ctx, config.ISBN13_RE)
    isbn10 = F.when(isbn13.isNull(), _first_match(ctx, config.ISBN10_RE))
    return [
        title.alias("title"),
        _strip_isbn(isbn13).alias("isbn_13"),
        _strip_isbn(isbn10).alias("isbn_10"),
        _first_match(ctx, config.YEAR_RE).alias("year"),
        _first_match(ctx, config.PUBLISHER_RE).alias("publisher"),
        _first_match(ctx, config.PRICE_RE).cast("double").alias("price_amount"),
        # A9 last-match reduce: grand total = LAST price in the document
        # (reference hueristics/extractor.py:91-96)
        F.try_element_at(
            F.regexp_extract_all(ctx, F.lit(config.PRICE_RE), F.lit(1)), F.lit(-1)
        )
        .cast("double")
        .alias("last_price_amount"),
        genre_col(ctx).alias("genre"),
    ]


def extract_metadata_df(documents_interleaved: DataFrame) -> DataFrame:
    """documents_interleaved → one metadata row per doc (narrow, no shuffle).

    The context string is materialized as its own projection first: the 6+
    regex families below each embed a reference to it, and expression trees
    are duplicated at construction time (no CSE across HOF lambdas) — as an
    attribute it is computed once per doc."""
    extracted = extract_inline(documents_interleaved)
    with_ctx = extracted.select(
        "doc_id", "spans", context_text_col(F.col("spans")).alias("_ctx")
    )
    return with_ctx.select(
        "doc_id", *metadata_cols_from(F.col("spans"), F.col("_ctx"))
    )


def extract_metadata_full_df(documents_interleaved: DataFrame) -> DataFrame:
    """Full 16-field U9 schema over the REAL extraction pipeline: context
    from the kept spans (boilerplate stripped, length-capped), title line
    = first kept text span (reference first-line heuristic,
    book_extractor.py:115-124). Golden oracle: oracle.extract_metadata_full.

    Same CSE discipline as extract_metadata_df: ctx and the first-span
    title are materialized once before the ~20 regex families reference
    them."""
    from .metadata_full import metadata_full_cols  # noqa: PLC0415

    extracted = extract_inline(documents_interleaved)
    first_text = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    with_ctx = extracted.select(
        "doc_id",
        context_text_col(F.col("spans")).alias("_ctx"),
        F.try_element_at(first_text, F.lit(1))["text"].alias("_first"),
    )
    return with_ctx.select(
        "doc_id", *metadata_full_cols(F.col("_ctx"), F.col("_first"))
    )


def validate_metadata_cols() -> Column:
    """Validation semantics of process_book_enhanced.py:35-51: title required,
    ISBN-10 length 10, ISBN-13 length 13 (after dash/space strip)."""
    return (
        F.col("title").isNotNull()
        & (F.col("isbn_10").isNull() | (F.length("isbn_10") == 10))
        & (F.col("isbn_13").isNull() | (F.length("isbn_13") == 13))
    ).alias("valid")
