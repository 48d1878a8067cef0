"""Exploded-path assembly: salted two-phase result == inline result ==
oracle, including the mega-doc (salting actually engages) — and salting
preserves GLOBAL per-doc offset order (SURVEY §7 hard part)."""

from __future__ import annotations

from bb_ocr_spark import datagen, oracle
from bb_ocr_spark.operators.assemble import (
    assemble_spans,
    explode_spans,
    filter_spans,
    with_span_counts,
)
from bb_ocr_spark.operators.extract import extract_inline

N_DOCS = 60  # includes mega-doc i=7

# a text span of ASCII whitespace other than 0x20 (blank, so dropped before
# the classifier divides by its token count) and a media span carrying a
# caption (kept, emitted with NULL text)
KEEP_RULE_DOC = (
    "doc_keep_rule",
    [
        {"kind": "text", "text": "\t\n", "media_ref": None, "offset": 0},
        {"kind": "media", "text": "a caption", "media_ref": "media://k/1", "offset": 1},
        {"kind": "text", "text": "Plain body text follows.", "media_ref": None, "offset": 2},
    ],
)


def _seq(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


def test_salted_assembly_matches_oracle(spark):
    docs = dict(datagen.gen_doc(i) for i in range(N_DOCS))
    docs[KEEP_RULE_DOC[0]] = KEEP_RULE_DOC[1]
    extra = spark.createDataFrame(
        [(KEEP_RULE_DOC[0], [tuple(s.values()) for s in KEEP_RULE_DOC[1]])],
        datagen.SPANS_SCHEMA_DDL,
    )
    df = datagen.generate_df(spark, N_DOCS, partitions=6).unionByName(extra)
    exploded = filter_spans(explode_spans(df))
    # tiny threshold/buckets so salting engages on many docs, not just mega
    out = assemble_spans(exploded, salt_threshold=8, salt_buckets=4)
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    inline = {r["doc_id"]: r["spans"] for r in extract_inline(df).collect()}
    for did, spans in docs.items():
        want = oracle.extract_doc(spans)
        assert _seq(inline[did]) == want, f"inline extraction mismatch for {did}"
        if not want:  # groupBy drops docs with zero kept spans
            assert did not in got or got[did] == []
            continue
        assert _seq(got[did]) == want, f"salted assembly mismatch for {did}"


def test_mega_doc_salting_engaged(spark):
    df = datagen.generate_df(spark, 8, partitions=2)
    exploded = explode_spans(df)
    mega = exploded.filter(exploded.doc_id == datagen.doc_id_of(7))
    n = mega.count()
    assert n >= 2000
    out = assemble_spans(filter_spans(exploded))  # default threshold 512
    row = out.filter(out.doc_id == datagen.doc_id_of(7)).collect()[0]
    want = oracle.extract_doc(datagen.gen_doc(7)[1])
    assert _seq(row["spans"]) == want


def test_with_span_counts(spark):
    df = datagen.generate_df(spark, 10, partitions=2)
    bare = explode_spans(df).drop("n_spans")
    counted = with_span_counts(bare)
    sizes = {
        r["doc_id"]: r["n_spans"]
        for r in counted.select("doc_id", "n_spans").distinct().collect()
    }
    for i in range(10):
        assert sizes[datagen.doc_id_of(i)] == len(datagen.gen_doc(i)[1])
