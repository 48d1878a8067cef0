"""Physical-plan quality gates: the optimizations we claim must be visible
in the executed plan — filter pushdown into the parquet scan, column
pruning, broadcast joins for dims, zero Exchange in the narrow pipelines."""

from __future__ import annotations

from pyspark.sql import functions as F

from bb_ocr_spark import datagen
from bb_ocr_spark.functions.metadata import extract_metadata_df
from bb_ocr_spark.operators.extract import extract_inline
from bb_ocr_spark.operators.tokenizer import tokenize_html_expr


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_narrow_pipelines_have_no_exchange(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from bb_ocr_spark.plans.interleave import interleave_documents

    interleaved = interleave_documents(docs)
    for df in (
        extract_inline(interleaved),
        extract_metadata_df(interleaved),
        tokenize_html_expr(
            docs.select(F.col("doc_id").cast("string"), F.col("text").alias("html"))
        ),
    ):
        p = plan_of(df)
        assert "Exchange" not in p, f"narrow pipeline shuffles:\n{p[:500]}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    p = plan_of(q)
    assert "PushedFilters: [" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    # column pruning: scan schema holds only the needed columns
    read_schema = p.split("ReadSchema:")[-1]
    assert "l_extendedprice" not in read_schema


def test_dim_join_is_broadcast(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    q = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "n_name")
    )
    p = plan_of(q)
    assert "BroadcastHashJoin" in p, "small dims should broadcast"


def test_exploded_assembly_scans_once(spark):
    """Every doc takes one salted two-phase aggregation: the input is
    exploded (and run through the keep kernel) once, with no small/big
    branch union re-scanning it."""
    from bb_ocr_spark.operators.assemble import (
        assemble_spans,
        explode_spans,
        filter_spans,
    )

    df = datagen.generate_df(spark, 8, partitions=2)
    p = plan_of(assemble_spans(filter_spans(explode_spans(df))))
    assert p.count("Generate") == 1, p
    assert "Union" not in p, p


def test_anti_join_resume_shape(spark, tmp_path):
    from bb_ocr_spark.plans.extract_job import run_extract_job, completed_doc_ids

    out = str(tmp_path / "j")
    df = datagen.generate_df(spark, 30, partitions=2)
    run_extract_job(spark, df, out, run_id="a")
    done = completed_doc_ids(spark, out)
    resumed = df.join(done, "doc_id", "left_anti")
    p = plan_of(resumed)
    assert "LeftAnti" in p
    # completed set is small -> broadcast anti join expected
    assert "Broadcast" in p


def test_lineage_totals_observed_in_result_stage(spark, tmp_path, monkeypatch):
    """The manifest's run totals are counted exactly once. Their
    CollectMetrics sits above the lineage's final aggregate with no
    Exchange above either, so it runs in the metrics write's result stage.
    DAGScheduler applies a result task's accumulator updates once per
    partition (a shuffle map task's, once per successful attempt), so a
    retried or speculative task cannot count toward the totals twice."""
    import re

    from bb_ocr_spark.plans.extract_job import run_extract_job

    writer_cls = type(spark.range(1).write)  # the session's writer implementation
    written, parquet = [], writer_cls.parquet

    def keep_written(writer, path, *args, **kwargs):
        written.append((path, writer._df))
        return parquet(writer, path, *args, **kwargs)

    monkeypatch.setattr(writer_cls, "parquet", keep_written)
    run_extract_job(spark, datagen.generate_df(spark, 20, partitions=2), str(tmp_path / "j"))
    (frame,) = [df for path, df in written if "/metrics/" in path]
    p = plan_of(frame)
    nodes = [line.lstrip(" +-:") for line in p.splitlines()]
    metrics = next(i for i, n in enumerate(nodes) if n.startswith("CollectMetrics"))
    # Spark plans a sort-based aggregate here (min/max over strings)
    final_agg = next(i for i, n in enumerate(nodes) if re.match(r"\w*Aggregate\(", n))
    exchange = next(i for i, n in enumerate(nodes) if n.startswith("Exchange"))
    assert metrics < final_agg < exchange, p


def test_new_query_plan_quality(spark):
    """Plan-shape guards for the round-2 driver queries: candidate
    generation must never degrade to a cartesian/nested-loop product, and
    the tokenizer query must stay a narrow zero-Exchange map."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()

    tok = plan_of(qs["tokenize_spans"](spark, sf))
    # round 6: the read-side fanout (_fanout) adds exactly one
    # id-hash REPARTITION_BY_NUM exchange so a tiny single-row-group
    # input spreads over the cores; the pipeline itself must stay narrow —
    # no hash/range exchange introduced by the tokenizer work
    fanouts = tok.count("REPARTITION_BY_NUM")
    assert tok.count("Exchange") == fanouts <= 1, (
        "tokenize_spans must stay a narrow map-only plan apart from the "
        f"read-side fanout repartition:\n{tok[:800]}"
    )

    for name in ("best_offer", "paragraph_dedup", "minhash_lsh", "ngram_jaccard"):
        plan = plan_of(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


# Exchange (including BroadcastExchange), BroadcastExchange and Generate
# nodes in each embedding query's executedPlan() at sf0.001, as planned
# before the ANN operators moved onto shared stage helpers.
ANN_PLAN_SHAPES = {
    "embedding_topk": (4, 1, 0),
    "ivf_topk": (3, 1, 1),
    "pq_topk": (4, 1, 0),
    "ivfpq_topk": (4, 1, 1),
    "ivfpq_residual_topk": (6, 3, 1),
    "lsh_ann": (3, 1, 1),
    "dup_pairs": (14, 3, 4),
    "semantic_dedup": (9, 1, 0),
}


def test_ann_plan_shapes(spark):
    """The 8 embedding queries keep their shuffle, broadcast and explode
    counts: a refactor of the ANN operators that changes a size estimate
    can flip a broadcast side and add a window shuffle."""
    import __spark_entry__ as E
    from bb_ocr_spark.cache import release_persisted

    sf = "/root/testdata/sf0.001"
    qs = {**E.queries(), **E.extra_queries()}
    got = {}
    for name in ANN_PLAN_SHAPES:
        p = plan_of(qs[name](spark, sf))
        got[name] = (
            p.count("Exchange"),
            p.count("BroadcastExchange"),
            p.count("Generate"),
        )
    release_persisted()
    assert got == ANN_PLAN_SHAPES
