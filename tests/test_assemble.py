"""Exploded-path assembly: the one-aggregation result == inline result ==
oracle, including the datagen mega-doc — one global per-doc sort keeps the
offset order whatever order the partial buffers merge in (SURVEY §7 hard
part)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bb_ocr_spark import datagen, oracle
from bb_ocr_spark.operators.assemble import (
    assemble_spans,
    explode_spans,
    filter_spans,
)
from bb_ocr_spark.operators.extract import (
    SPANS_SCHEMA_DDL,
    checksum_spans_col,
    extract_inline,
)

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


def test_assembly_matches_oracle(spark):
    docs = dict(datagen.gen_doc(i) for i in range(N_DOCS))
    docs[KEEP_RULE_DOC[0]] = KEEP_RULE_DOC[1]
    extra = spark.createDataFrame(
        [(KEEP_RULE_DOC[0], [tuple(s.values()) for s in KEEP_RULE_DOC[1]])],
        SPANS_SCHEMA_DDL,
    )
    df = datagen.generate_df(spark, N_DOCS, partitions=6).unionByName(extra)
    # scatter the span rows so every doc's spans reach its reducer from
    # several map tasks, out of offset order
    exploded = filter_spans(explode_spans(df)).repartition(4)
    out = assemble_spans(exploded)
    got = {r["doc_id"]: r["spans"] for r in out.collect()}
    inline = {r["doc_id"]: r["spans"] for r in extract_inline(df).collect()}
    for did, spans in docs.items():
        want = oracle.extract_doc(spans)
        assert _seq(inline[did]) == want, f"inline extraction mismatch for {did}"
        if not want:  # groupBy drops docs with zero kept spans
            assert did not in got or got[did] == []
            continue
        assert _seq(got[did]) == want, f"assembly mismatch for {did}"
    # the docs assembly loses are exactly the docs with no kept span
    assert set(inline) - set(got) == {d for d, sp in inline.items() if not sp}
    assert any(not sp for sp in inline.values())  # datagen's boilerplate-only doc

    # both plans agree on the order-sensitive checksum xor and span count
    def totals(extracted):
        return tuple(
            extracted.select(
                F.bit_xor(checksum_spans_col(F.col("spans"))),
                F.sum(F.size("spans")),
            ).first()
        )

    assert totals(out) == totals(extract_inline(df))


def test_mega_doc_salting_engaged(spark):
    df = datagen.generate_df(spark, 8, partitions=2)
    exploded = explode_spans(df)
    mega = exploded.filter(exploded.doc_id == datagen.doc_id_of(7))
    n = mega.count()
    assert n >= 2000
    out = assemble_spans(filter_spans(exploded))
    row = out.filter(out.doc_id == datagen.doc_id_of(7)).collect()[0]
    want = oracle.extract_doc(datagen.gen_doc(7)[1])
    assert _seq(row["spans"]) == want
