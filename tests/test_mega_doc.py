"""FIXTURES.md §1 skew tail at full size: a 10^5-span doc must extract and
assemble correctly (and without OOM) on both the inline and the exploded
paths, with the exploded rows contiguous or scattered over partitions."""

from __future__ import annotations

import random

from bb_ocr_spark import oracle
from bb_ocr_spark.operators.assemble import assemble_spans, explode_spans, filter_spans
from bb_ocr_spark.operators.extract import extract_inline

N_SPANS = 100_000


def _mega_doc():
    rng = random.Random("mega:1e5")
    spans = []
    for off in range(N_SPANS):
        r = rng.random()
        if r < 0.7:
            spans.append(
                {
                    "kind": "text",
                    "text": f"line {off} word{rng.randrange(50)} content",
                    "media_ref": None,
                    "offset": off,
                }
            )
        elif r < 0.85:
            spans.append(
                {"kind": "media", "text": None, "media_ref": f"m://x/{off}", "offset": off}
            )
        else:
            spans.append(
                {"kind": "boilerplate", "text": "footer nav", "media_ref": None, "offset": off}
            )
    rng.shuffle(spans)
    return spans


def _mega_df(spark, spans):
    rows = [("mega", [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])]
    return spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )


def _seq(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


def test_mega_doc_both_paths(spark):
    spans = _mega_doc()
    golden = oracle.extract_doc(spans)
    assert len(golden) > 50_000
    df = _mega_df(spark, spans)

    inline = extract_inline(df).collect()[0]["spans"]
    assert _seq(inline) == golden

    assembled = assemble_spans(filter_spans(explode_spans(df))).collect()[0]["spans"]
    assert _seq(assembled) == golden


def test_mega_doc_scattered_rows_assemble(spark):
    # the doc's span rows spread over 16 partitions: its reducer merges 16
    # partial collect_list buffers, and only the one global sort restores
    # offset order
    spans = _mega_doc()
    exploded = explode_spans(_mega_df(spark, spans)).repartition(16)
    assert exploded.rdd.getNumPartitions() == 16
    assembled = assemble_spans(filter_spans(exploded)).collect()[0]["spans"]
    assert _seq(assembled) == oracle.extract_doc(spans)


def test_mega_doc_paragraph_dedup_salted(spark):
    # a 10^5-paragraph doc must rebuild through the one per-doc aggregation
    # with exact first-occurrence semantics, next to a small doc sharing
    # one of its paragraphs
    n = 100_000
    mega_paras = [f"para {i} tok{i % 977}" for i in range(n)]
    # plant within-doc repeats: every 1000th paragraph duplicates para 0
    for i in range(1000, n, 1000):
        mega_paras[i] = mega_paras[0]
    small_paras = [mega_paras[3], "unique small paragraph"]
    rows = [("a_mega", "\n".join(mega_paras)), ("b_small", "\n".join(small_paras))]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    from bb_ocr_spark.operators.dedup import paragraph_dedup

    out = {r["id"]: r for r in paragraph_dedup(df).collect()}
    mega = out["a_mega"]
    dup_count = (n - 1000) // 1000  # planted repeats of para 0
    assert mega["n_dropped"] == dup_count
    assert mega["n_kept"] == n - dup_count
    got = mega["text_dedup"].split("\n")
    want = [p for i, p in enumerate(mega_paras) if p != mega_paras[0] or i == 0]
    assert got == want  # original order, first occurrence kept
    small = out["b_small"]
    assert small["n_kept"] == 1  # mega doc owns para[3]'s first occurrence
    assert small["text_dedup"] == "unique small paragraph"


def test_substring_dedup_mega_doc(spark):
    """Two copies of a 50k-token doc: the whole duplicate collapses to
    ONE merged run and the gap-slicing rebuild stays linear (the
    per-token exists form was O(tokens x runs) and the pre-merge form
    O(tokens x starts) — either would crawl here)."""
    import time

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import substring_dedup

    mega = " ".join(f"m{i % 9973}x{i % 7}" for i in range(20_000))
    df = spark.createDataFrame(
        [(1, mega), (2, mega), (3, "tiny unrelated doc")],
        "doc_id long, text string",
    )
    t0 = time.monotonic()
    out = {r["doc_id"]: r for r in substring_dedup(df, k=20).collect()}
    dt = time.monotonic() - t0
    release_persisted()
    assert out[1]["n_dup_tokens"] == 0           # keeper copy intact
    assert out[2]["n_dup_tokens"] == 20_000      # duplicate fully removed
    assert out[2]["n_dup_runs"] == 1             # one merged run
    assert out[2]["text_dedup"] == ""
    assert out[3]["n_dup_tokens"] == 0
    # Linear-vs-quadratic guard, not a perf target: the linear path runs
    # ~15-25 s here; the quadratic forms it guards against crawled for
    # minutes at this size. 180 s leaves headroom for the 4-8x JVM bursts
    # this host shows under load (BENCH/BENCH_NOTES_r05.md) — one full-
    # suite run in a contended window tripped the old 90 s bound while
    # the same test passed in isolation moments later.
    assert dt < 180, dt
