"""HTML tokenizer goldens: JVM-expression impl == frozen Python oracle,
on a corpus with nav blocks, inline anchors, and interleaved media."""

from __future__ import annotations

from bb_ocr_spark import datagen
from bb_ocr_spark.operators.tokenizer import (
    tokenize_html_expr,
    tokenize_html_oracle,
)

N_DOCS = 120


def _collect(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in df.collect()
    }


def _goldens():
    out = {}
    for i in range(N_DOCS):
        did, html = datagen.gen_html_doc(i)
        out[did] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in tokenize_html_oracle(html)
        ]
    return out


def test_expr_tokenizer_matches_oracle(spark):
    df = datagen.generate_html_df(spark, N_DOCS, partitions=6)
    got = _collect(tokenize_html_expr(df))
    want = _goldens()
    assert got == want


def test_tokenizer_semantics():
    # hand-built fixture: nav dropped, inline anchor kept, media interleaved
    html = (
        '<p>alpha beta gamma delta epsilon zeta</p>'
        '<nav><a href="u">Home</a> | <a href="u">About</a></nav>'
        '<p>one <img src="media://d/1"> two three four five six seven</p>'
        '<p>keep <a href="u">word</a> here now then soon</p>'
    )
    spans = tokenize_html_oracle(html)
    seq = [(s["kind"], s["text"] or s["media_ref"]) for s in spans]
    assert seq == [
        ("text", "alpha beta gamma delta epsilon zeta"),
        ("media", "media://d/1"),
        ("text", "one two three four five six seven"),
        ("text", "keep word here now then soon"),
    ]
    assert [s["offset"] for s in spans] == [0, 1, 2, 3]
