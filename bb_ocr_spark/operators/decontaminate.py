"""Train/eval decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set (the standard pretraining hygiene
pass — GPT-3 used 13-gram overlap; the n is a parameter here).

Scale shape:
  eval side   distinct hashed n-grams of the (small) eval set — at 100 TB
              train scale the eval set is still only benchmarks, so this
              side stays broadcast-joinable (AQE picks it up; no hint
              forced);
  train side  explode distinct hashed shingles per doc — 8-byte hashes on
              the wire, never n-gram strings (hashed_shingles_col), and
              the join + count shuffles only (doc_id, hash) pairs.

Hash-based matching equals string matching unless two DISTINCT shingles
collide in 64 bits (~|shingles|²/2^65) — the same accepted risk documented
at hashed_shingles_col; the DuckDB oracle replays the semantics with
string n-grams and is value-exact on the test corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from .dedup import hashed_shingles_col


def _hashed_shingles(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    toks = tokens_col(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
        toks.alias("_tk"),
    ).select("id", hashed_shingles_col(F.col("_th"), F.col("_tk"), n).alias("hs"))


def contaminated_docs(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shared) for every train doc sharing >= min_hits DISTINCT
    word n-grams with any eval doc. Anti-join the result against the
    corpus to decontaminate; keep n_shared for audit thresholds."""
    # explode_outer, NOT explode: the optimizer infers a size>0/isnotnull
    # filter for a plain explode and pushes it past the _th/_tk projection,
    # re-inlining the WHOLE shingle expression twice — and each copy
    # re-evaluates the token-hash transform inside every try_element_at,
    # an O(shingles × tokens) blowup per doc (measured 10x on sf0.1: the
    # same trap fixed in the tokenize_spans driver query). hs is never
    # empty/null (the <n-tokens branch emits a 1-element array), so the
    # outer generate emits identical rows.
    ev = (
        _hashed_shingles(eval_df, n, id_col, text_col)
        .select(F.explode_outer("hs").alias("sh"))
        .distinct()
    )
    tr = _hashed_shingles(train, n, id_col, text_col).select(
        "id", F.explode_outer("hs").alias("sh")
    )
    return (
        tr.join(ev, "sh")  # shingles are distinct per doc -> count = hits
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_hits)
        .select(F.col("id").alias(id_col), "n_shared")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """train rows with contaminated docs removed (left_anti on the flag
    set — the same resume/anti-join shape as plans/extract_job)."""
    flagged = contaminated_docs(train, eval_df, n, min_hits, id_col, text_col)
    return train.join(flagged.select(id_col), id_col, "left_anti")


def semantic_contaminated(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC decontamination flags — the embedding-space complement of
    the n-gram pass above (modern eval hygiene: paraphrased or
    re-formatted benchmark leakage that shares no 8-gram with the eval
    text still lands next to it in embedding space). A training item is
    contaminated iff some eval item's round-6 cosine similarity reaches
    `threshold`.

    Returns one row per flagged training item:
      (id_col, n_eval_hits:long, max_eval_cosine:double).
    Anti-join the ids to scrub, exactly like contaminated_docs.

    Scale shape: the asymmetry does the work, as in the n-gram pass —
    the EVAL side is benchmark-sized (10^3-10^5 rows) and broadcasts;
    the training corpus streams through one narrow pass computing
    n_eval cosines per row (a brute_force_topk-shaped broadcast
    nested-loop, no shuffle of train vectors), then aggregates the few
    hits on id. At eval sets too large to broadcast, band both sides
    with _banded_buckets (the embedding_dup_pairs machinery) and verify
    within buckets — same cap discipline, same observable-suppression
    rule."""
    from .similarity import cosine_col  # noqa: PLC0415

    ev = eval_df.select(
        F.col(id_col).alias("_eid"), F.col(vec_col).alias("_ev")
    )
    hits = (
        train.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(ev))
        .withColumn("_cos", cosine_col(F.col("_v"), F.col("_ev")))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
    )
    return hits.groupBy("id").agg(
        F.count("*").cast("long").alias("n_eval_hits"),
        F.max("_cos").alias("max_eval_cosine"),
    ).select(
        F.col("id").alias(id_col), "n_eval_hits", "max_eval_cosine"
    )
