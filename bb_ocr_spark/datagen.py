"""Deterministic synthetic generator for the canonical interleaved table.

    documents_interleaved(doc_id string,
                          spans array<struct<kind,text,media_ref,offset>>)

Per FIXTURES.md §1: spans are written in PERMUTED order (the engine must
restore offset order); text spans embed ISBN/year/publisher/price patterns
(deterministic targets for the heuristic extractor, reference analog
hueristics/book_extractor.py:11-29); boilerplate spans carry nav/footer
template text; a ~0.1% skew tail of mega-docs exercises salted assembly;
edge docs: zero-text, only-boilerplate, duplicate-text, unicode.

The per-doc kernel `gen_doc(i)` is plain Python seeded on (SEED, i) only,
so the SAME rows are produced by the single-node oracle path and by the
distributed Spark path (`generate_df` = spark.range → mapInPandas), at any
parallelism — generation is embarrassingly parallel and driver-free, which
is what makes it viable at 10^12 rows.
"""

from __future__ import annotations

import random

from .config import SEED

VOCAB = (
    "the quick brown fox jumps over lazy dog book cover page title author "
    "chapter printed bound paper edition library archive volume series index "
    "preface novel story science history computer software data war ancient"
).split()

NAV_WORDS = ["Home", "About", "Contact", "Login", "Search", "Sitemap", "Privacy"]

PUBLISHERS = ["Acme Press", "Nimbus Books", "Orchard Publishing", "Harbor House"]

# full-schema extractor targets (U9 full field set)
AUTHOR_FIRST = ["John", "Jane", "Alan", "Grace", "Ada"]
AUTHOR_LAST = ["Smith", "Doe", "Turing", "Hopper", "Lovelace"]
BINDINGS = ["Hardcover", "Paperback"]
ORDINALS = ["1st", "2nd", "3rd", "4th", "5th"]
SERIES = ["Foundation", "Dune", "Culture"]

# bump when gen_doc output changes: bench/scaling corpora cache under
# /tmp keyed by this, so stale caches never leak across datagen versions
DATAGEN_VERSION = 2

UNICODE_SENTENCES = [
    "Ecriture à la française déjà vu café",
    "Grüße aus München über alles",
    "naïve façade coöperate résumé",
]

KIND_TEXT, KIND_MEDIA, KIND_BOILER = "text", "media", "boilerplate"


def _sentence(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 12)))


def _pattern_sentence(rng: random.Random) -> str:
    """Sentence carrying a deterministic metadata pattern (full U9 field
    set: isbn/year/publisher/price plus author/binding/pages/edition/
    language/series/condition targets)."""
    which = rng.randrange(8)
    if which == 0:
        return (
            f"ISBN 978-{rng.randrange(10)}-{rng.randrange(100, 999)}"
            f"-{rng.randrange(10000, 99999)}-{rng.randrange(10)}"
        )
    if which == 1:
        return f"Copyright (c) {rng.randrange(1850, 2025)} all rights reserved"
    if which == 2:
        return f"published by {rng.choice(PUBLISHERS)}"
    if which == 3:
        return f"price ${rng.randrange(5, 200)}.{rng.randrange(0, 100):02d}"
    if which == 4:
        return f"by {rng.choice(AUTHOR_FIRST)} {rng.choice(AUTHOR_LAST)}"
    if which == 5:
        return f"{rng.choice(BINDINGS)} {rng.randrange(80, 999)} pages"
    if which == 6:
        return f"{rng.choice(ORDINALS)} edition in English text"
    return f"the {rng.choice(SERIES)} series very good condition"


def _nav_text(rng: random.Random) -> str:
    """Link-dense text a main-content classifier must strip (kind='text'
    but classified boilerplate by link density)."""
    n = rng.randint(3, 6)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(NAV_WORDS))
        parts.append("|")
        parts.append(f"https://example.com/{rng.randrange(100)}")
    return " ".join(parts)


def _boiler_text(rng: random.Random) -> str:
    return (
        rng.choice(
            [
                "footer copyright navigation menu sitemap terms conditions",
                "subscribe newsletter follow us social media links",
                "cookie consent banner accept decline preferences",
            ]
        )
        + f" {rng.randrange(1000)}"
    )


def doc_id_of(i: int) -> str:
    return f"doc_{i:09d}"


def n_spans_of(i: int, rng: random.Random) -> int:
    if i % 1000 == 7:  # mega-doc skew tail (~0.1%)
        return rng.randint(2000, 8000)
    return rng.randint(1, 40)


def gen_doc(i: int) -> tuple[str, list[dict]]:
    """Deterministic doc: (doc_id, spans in PERMUTED order)."""
    rng = random.Random(f"bbocr:{SEED}:{i}")
    did = doc_id_of(i)
    n = n_spans_of(i, rng)
    only_media = i % 97 == 3
    only_boiler = i % 97 == 5
    unicode_doc = i % 53 == 11

    spans = []
    for off in range(n):
        if only_media:
            kind = KIND_MEDIA
        elif only_boiler:
            kind = KIND_BOILER
        else:
            r = rng.random()
            kind = KIND_TEXT if r < 0.70 else (KIND_MEDIA if r < 0.85 else KIND_BOILER)
        if kind == KIND_MEDIA:
            spans.append(
                {"kind": kind, "text": None, "media_ref": f"media://{did}/{off}", "offset": off}
            )
            continue
        if kind == KIND_BOILER:
            txt = _boiler_text(rng)
        else:
            r = rng.random()
            if r < 0.10:
                txt = _pattern_sentence(rng)
            elif r < 0.20:
                txt = _nav_text(rng)  # classifier-dropped text
            elif r < 0.25:
                txt = "  " if rng.random() < 0.5 else ""  # empty-text filter target
            elif unicode_doc and r < 0.45:
                txt = rng.choice(UNICODE_SENTENCES)
            else:
                txt = _sentence(rng)
                if rng.random() < 0.15:
                    txt = "  " + txt.replace(" ", "   ", 2) + " "  # ws-squeeze target
        spans.append({"kind": kind, "text": txt, "media_ref": None, "offset": off})
    rng.shuffle(spans)  # engine must restore offset order
    return did, spans


# --------------------------------------------------------------------------
# HTML corpus (for the tokenizer / block-classifier stage)
# --------------------------------------------------------------------------


def gen_html_doc(i: int) -> tuple[str, str]:
    """Deterministic flat-markup HTML-ish doc: (doc_id, html).

    Mixes content paragraphs, link-dense nav/footer blocks (classifier must
    drop), inline <img> media (must interleave at original positions), and
    anchors inside real paragraphs (must survive — link density below
    threshold)."""
    rng = random.Random(f"bbocr-html:{SEED}:{i}")
    did = doc_id_of(i)
    parts = [f"<h1>{_sentence(rng)}</h1>"]
    for b in range(rng.randint(2, 12)):
        r = rng.random()
        if r < 0.15:  # nav block: almost all anchor words → dropped
            links = " | ".join(
                f'<a href="https://example.com/{rng.randrange(50)}">{rng.choice(NAV_WORDS)}</a>'
                for _ in range(rng.randint(3, 6))
            )
            parts.append(f"<nav>{links}</nav>")
        elif r < 0.30:  # image (possibly mid-paragraph)
            ref = f"media://{did}/{b}"
            if rng.random() < 0.5:
                parts.append(f'<p>{_sentence(rng)} <img src="{ref}"> {_sentence(rng)}</p>')
            else:
                parts.append(f'<img src="{ref}">')
        elif r < 0.40:  # paragraph with one inline anchor → kept
            parts.append(
                f'<p>{_sentence(rng)} <a href="https://example.com/x">'
                f"{rng.choice(VOCAB)}</a> {_sentence(rng)}</p>"
            )
        elif r < 0.50:
            parts.append(f"<li>{_pattern_sentence(rng)}</li>")
        else:
            parts.append(f"<p>{_sentence(rng)}</p>")
    parts.append('<footer><a href="https://example.com/tos">Terms</a> | '
                 '<a href="https://example.com/priv">Privacy</a></footer>')
    return did, "".join(parts)


HTML_SCHEMA_DDL = "doc_id string, html string"


def generate_html_df(spark, n_docs: int, partitions: int | None = None):
    import pandas as pd  # noqa: PLC0415

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def build(batches):
        for pdf in batches:
            rows = [gen_html_doc(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(
        build, schema=HTML_SCHEMA_DDL
    )


# --------------------------------------------------------------------------
# Spark-side distributed generation (the 10^12-row path)
# --------------------------------------------------------------------------

def generate_df(spark, n_docs: int, partitions: int | None = None):
    """documents_interleaved as a DataFrame, generated distributed.

    spark.range is split across the cluster; each task materializes its own
    docs from the pure per-doc kernel — no driver bottleneck, no shuffle.
    """
    import pandas as pd  # noqa: PLC0415 — imported in executor too

    # the oracle path imports this module without pyspark
    from .operators.extract import SPANS_SCHEMA_DDL  # noqa: PLC0415

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def build(batches):
        for pdf in batches:
            ids, spans = [], []
            for i in pdf["id"]:
                did, sp = gen_doc(int(i))
                ids.append(did)
                spans.append(
                    [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp]
                )
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(build, schema=SPANS_SCHEMA_DDL)
    )


def write_parquet(spark, n_docs: int, path: str, partitions: int | None = None) -> None:
    generate_df(spark, n_docs, partitions).write.mode("overwrite").parquet(path)
