"""Corpus keyword search: inverted-index BM25 ranking + vocabulary stats.

Extends the reference's keyword scoring (hueristics/book_extractor.py
:149-178 counts keyword hits per document and argmaxes) to the
corpus-scale form a 100 TB pipeline needs: a document-frequency-aware
ranking (BM25) over an inverted index, where only (doc_id, token, tf)
postings ever shuffle and the query side is broadcast.

Determinism across engines: per-term scores are rounded to 9 decimals
before summation and totals to 6 after (the same discipline as the IVF
dot products), and ranking ties break on doc_id — so a DuckDB oracle
replays the exact top-k.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import plan_gates
from ..functions.text import tokens_col

BM25_K1 = 1.2
BM25_B = 0.75

class BM25Index(NamedTuple):
    """The four relations BM25 scoring needs, decoupled from the corpus:
    once built (or read back from disk) no query ever touches the
    document text again — a real search workload amortizes the one
    corpus scan across every query batch."""

    postings: DataFrame  # (id, token, tf)
    doc_len: DataFrame  # (id, dl)
    df_tok: DataFrame  # (token, df)
    stats: DataFrame  # 1 row: (n_corpus, avgdl)


def build_bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = True,
) -> BM25Index:
    """One corpus scan -> reusable BM25 index. Tokenization is the
    expensive step and the plan self-references it three ways (postings,
    doc lengths, and through postings again for df) — Spark does not CSE
    across self-referencing plans, so the token projection AND the
    postings are persisted (cache.track_persist) to run once; this is
    also the fix for feeding several bm25_topk calls without re-scanning.

    Scale shape: postings are one explode + map-side-combined groupBy on
    (id, token); df is a second groupBy on token over the (much smaller)
    postings; stats is a scalar aggregate. Everything downstream of the
    scan shuffles 8-byte-ish keyed rows, never document text."""
    from ..cache import track_persist  # noqa: PLC0415

    base = docs.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_tk")
    )
    if persist:
        base = track_persist(base)
    exploded = base.select(
        "id", F.explode_outer(F.col("_tk")).alias("token")
    ).filter(F.col("token").isNotNull())
    postings = exploded.groupBy("id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    if persist:
        postings = track_persist(postings)
    doc_len = base.select("id", F.size("_tk").cast("long").alias("dl"))
    stats = doc_len.agg(
        F.count("*").cast("long").alias("n_corpus"),
        F.avg("dl").alias("avgdl"),
    )
    df_tok = postings.groupBy("token").agg(
        F.count("*").cast("long").alias("df")
    )
    return BM25Index(postings, doc_len, df_tok, stats)


_INDEX_PARTS = ("postings", "doc_len", "df_tok", "stats")


def write_bm25_index(index: BM25Index, path: str) -> None:
    """Materialize the index as four parquet dirs. Postings and df are
    hash-clustered on token before the write so a reader's token-keyed
    joins start from token-clustered files (the parquet analog of a
    bucketed table — real bucketing metadata needs a catalog/warehouse,
    which this image lacks); doc_len clusters on id for the same reason."""
    index.postings.repartition(F.col("token")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "postings"))
    index.doc_len.repartition(F.col("id")).write.mode("overwrite").parquet(
        os.path.join(path, "doc_len")
    )
    index.df_tok.repartition(F.col("token")).write.mode("overwrite").parquet(
        os.path.join(path, "df_tok")
    )
    index.stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "stats")
    )


def read_bm25_index(spark: SparkSession, path: str) -> BM25Index:
    """The read side of write_bm25_index: BM25 over a corpus whose index
    is on disk never scans (or even references) the corpus table."""
    return BM25Index(
        *[spark.read.parquet(os.path.join(path, p)) for p in _INDEX_PARTS]
    )


def token_vocab(
    docs: DataFrame,
    top_v: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: (token, n_total, n_docs), optionally truncated
    to the top_v most frequent (count desc, token asc — deterministic
    ties). One explode + one groupBy; map-side combine does the heavy
    lifting, the reduce side sees one row per distinct token."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("token"),
    ).filter(F.col("token").isNotNull())
    vocab = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("n_total"),
        F.countDistinct("id").cast("long").alias("n_docs"),
    )
    if top_v is not None:
        # orderBy().limit() compiles to TakeOrderedAndProject — each
        # partition keeps its local top_v and only those merge, so the
        # cut is distributed; a global row_number window would drag the
        # ENTIRE vocabulary through one task (the WindowExec
        # no-partition single-task trap)
        vocab = vocab.orderBy(F.desc("n_total"), F.asc("token")).limit(top_v)
    return vocab


def bm25_topk(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    index: BM25Index | None = None,
) -> DataFrame:
    """Top-k docs per query under BM25:

      idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
      score(q,d)  = Σ_t∈q idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·len/avglen))

    Returns (query_id, doc_id, score, rk) with rk 1..k per query, ranked
    by (score desc, doc_id asc).

    Pass `index` (build_bm25_index / read_bm25_index) to amortize the
    corpus scan across query batches — scoring over a prebuilt index
    never references the document table; with `index=None` an ephemeral
    one is built from `docs` (persisted, so the scan still runs once
    within this call).

    Scale shape: postings (id, token, tf) are one explode + groupBy —
    the only corpus-sized shuffles are on the token key; doc lengths ride
    along via a groupBy on id. N and avglen are scalar aggregates
    (1-row crossJoin). The query term table is tiny and BROADCAST into
    the postings join, so the corpus never reshuffles per query set; the
    final top-k is a window over candidate (query, doc) pairs — only
    docs sharing at least one query term, not the corpus."""
    if index is None:
        index = build_bm25_index(docs, id_col=id_col, text_col=text_col)
    postings, doc_len, df_tok, stats = index
    qterms = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.explode_outer(tokens_col(F.col(query_text_col))).alias("token"),
        )
        .filter(F.col("token").isNotNull())
        .distinct()
    )
    scored = (
        postings.join(F.broadcast(qterms), "token")
        .join(df_tok, "token")
        .join(doc_len, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_term_score",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_corpus") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ),
        )
    )
    totals = scored.groupBy("qid", "id").agg(
        F.round(F.sum("_term_score"), 6).alias("score")
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        totals.withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("id").alias(id_col),
            "score",
            "rk",
        )
    )


def unigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-model quality scoring with a corpus-trained unigram LM
    (the cheap end of the CCNet/perplexity-filter family): per doc,
    the total and mean surprisal −ln p(token) under p(t) = count(t)/N
    counted over the corpus itself. Outliers (very high mean surprisal =
    rare-token soup, very low = repetitive boilerplate) are the docs a
    quality pass inspects first.

    Returns (id_col, n_tokens, surprisal_micronats, mean_surprisal_nats).

    Cross-engine determinism: floating-point SUMS are order-dependent,
    so per-token surprisal is quantized to integer MICRO-nats
    (round(−ln p · 1e6) as BIGINT) and summed as integers — exact and
    order-independent in both engines; the mean divides two exact
    integers. Scale shape: one token explode + count groupBy (map-side
    combined), one join of tokens against the (vocab-sized) count table,
    one groupBy back per doc — all shuffles on tokens/ids."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("token"),
    )
    # No persist: the token stream feeds the count pass and the scoring
    # join, but re-tokenizing is cheaper than materializing 2.25M string
    # rows into the cache and reading them back (A/B at sf1.0: 4.05 s
    # persisted vs 3.58 s recomputed vs 2.08 s recomputed+broadcast).
    toks = toks.filter(F.col("token").isNotNull())
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # size-adaptive broadcast: the vocab (distinct tokens) can never
    # outweigh its corpus, so when the corpus itself is small the
    # scoring join's shuffle of every token occurrence is pure overhead
    # (AQE keeps the sort-merge plan here — the 2x is measured). Large
    # corpora keep the shuffle join: a 100 TB vocab is not broadcastable.
    vocab = plan_gates.broadcast_if_small(docs, vocab)
    total = vocab.agg(F.sum("cnt").alias("n_corpus"))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_lp_micro",
            F.round(
                -F.log(F.col("cnt").cast("double") / F.col("n_corpus"))
                * 1_000_000
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("_lp_micro").alias("surprisal_micronats"),
    )
    # left join: zero-token docs keep a row (0 tokens, 0 surprisal)
    from ..functions.perdoc import finalize_per_doc_micro  # noqa: PLC0415

    return finalize_per_doc_micro(
        docs, per_doc, id_col,
        count_col="n_tokens",
        sum_col="surprisal_micronats",
        mean_col="mean_surprisal_nats",
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    sample_mod: int = 8,
    salt: str = "ppl",
    lm: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020,
    arXiv:1911.00359): per source, docs are split into fluency terciles
    by language-model score — here the corpus-trained unigram surprisal
    (unigram_surprisal), the cheap end of the same perplexity-filter
    family. head = lowest mean surprisal (most fluent), tail = highest;
    pretraining pipelines keep head+middle and downweight or drop tail.

    Tercile THRESHOLDS are fit on a deterministic md5-hash sample
    (hash_bucket_col(id, sample_mod, salt) == 0, ~1/sample_mod of docs) —
    exactly CCNet's practice of fitting thresholds on a sample rather
    than sorting the full corpus. t1/t2 are the sampled means ranked
    ceil(n/3) / ceil(2n/3) by (mean ASC, id ASC); every doc is then
    labeled by comparison: head iff mean <= t1, middle iff mean <= t2,
    else tail. A source with NO sampled docs (tiny source + coarse
    sample_mod) gets the label 'unsampled' — an explicit, deterministic
    outcome instead of a silent guess; lower sample_mod to cover it.

    Scale shape: the surprisal pass is the distributed token pipeline of
    unigram_surprisal (shuffles on tokens/ids only); the ranking window
    runs over the SAMPLE, so its per-source task holds ~n_source /
    sample_mod rows (tighten sample_mod for huge sources); thresholds
    are a tiny per-source frame broadcast into the final labeling join.
    The full corpus is never globally sorted. Deterministic at any
    parallelism: the sample is keyed on md5(id), ranks tie-break on id,
    and all compared values are the round-6 doubles the surprisal
    operator already pins cross-engine.

    Returns (id_col, source, n_tokens, mean_surprisal_nats, ppl_bucket)."""
    from ..cache import track_persist  # noqa: PLC0415
    from ..functions.sampling import hash_bucket_col  # noqa: PLC0415

    # lm=None: self-trained scores (the gate-pinned default); pass a
    # train_unigram_lm frame to bucket by a FROZEN reference model —
    # CCNet's actual deployment (train on Wikipedia, bucket the crawl)
    if lm is not None:
        sur = unigram_surprisal_lm(
            docs, lm, id_col=id_col, text_col=text_col
        ).drop("n_oov")
    else:
        sur = unigram_surprisal(docs, id_col=id_col, text_col=text_col)
    scored = track_persist(
        sur.join(docs.select(id_col, source_col), id_col).select(
            id_col, source_col, "n_tokens", "mean_surprisal_nats"
        )
    )
    sample = scored.filter(
        hash_bucket_col(F.col(id_col), sample_mod, salt) == 0
    )
    wr = Window.partitionBy(source_col).orderBy(
        F.asc("mean_surprisal_nats"), F.asc(id_col)
    )
    ranked = sample.withColumn("_rn", F.row_number().over(wr))
    n_per = sample.groupBy(source_col).agg(F.count("*").alias("_n"))
    ks = n_per.select(
        source_col,
        F.floor((F.col("_n") + 2) / 3).cast("int").alias("_k1"),
        F.floor((2 * F.col("_n") + 2) / 3).cast("int").alias("_k2"),
    )
    thr = (
        ranked.join(F.broadcast(ks), source_col)
        .filter((F.col("_rn") == F.col("_k1")) | (F.col("_rn") == F.col("_k2")))
        .groupBy(source_col)
        .agg(
            F.min(
                F.when(F.col("_rn") == F.col("_k1"), F.col("mean_surprisal_nats"))
            ).alias("_t1"),
            F.min(
                F.when(F.col("_rn") == F.col("_k2"), F.col("mean_surprisal_nats"))
            ).alias("_t2"),
        )
    )
    return (
        scored.join(F.broadcast(thr), source_col, "left")
        .select(
            id_col,
            F.col(source_col).alias("source"),
            "n_tokens",
            "mean_surprisal_nats",
            F.when(F.col("_t1").isNull(), F.lit("unsampled"))
            .when(F.col("mean_surprisal_nats") <= F.col("_t1"), F.lit("head"))
            .when(F.col("mean_surprisal_nats") <= F.col("_t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


def bigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Interpolated bigram-LM surprisal per document — one rung up the
    CCNet/perplexity-filter ladder from unigram_surprisal: each token
    after the first is scored under the Jelinek-Mercer mixture
    p(cur|prev) = lam * c(prev,cur)/c(prev) + (1-lam) * c(cur)/N, the
    first token under the unigram p(cur) = c(cur)/N. Counts are trained
    on the corpus itself (the same self-trained regime as
    unigram_surprisal); on held-out text the unigram interpolation term
    keeps unseen bigrams finite, which is the whole point of the
    mixture. lam must be exactly representable in binary (default 0.75)
    so both engines multiply by the identical double.

    Returns (id_col, n_tokens, surprisal_micronats, mean_surprisal_nats)
    — per-token surprisal quantized to integer MICRO-nats before the
    order-independent integer sum, the established cross-engine
    discipline of unigram_surprisal.

    Scale shape: scoring events (prev, cur) are built NARROWLY inside
    each doc row (transform over the token array — no window, no
    self-join, no extra shuffle for adjacency) and exploded once; the
    persisted event frame feeds the unigram count, the bigram count,
    and the scoring join, so tokenization+explode runs once. All
    shuffles are keyed on tokens / (prev,cur) pairs / doc ids — never
    text. At 100 TB the bigram count table is the big intermediate; it
    shuffles as (16-byte-ish token pair, count) rows with map-side
    combine, exactly the shape a distributed LM-training count job has.
    """
    from ..cache import track_persist  # noqa: PLC0415

    # cross-engine literal contract: lam must be EXACTLY representable
    # in binary so both engines multiply by the identical double
    from fractions import Fraction  # noqa: PLC0415

    fr = Fraction(float(lam)).limit_denominator(1 << 30)
    if Fraction(float(lam)) != fr or fr.denominator & (fr.denominator - 1):
        raise ValueError(
            f"lam={lam!r} is not exactly representable as a small dyadic "
            "rational; use e.g. 0.75, 0.625, 0.5"
        )
    base = docs.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t")
    )
    # (prev, cur) scoring events: prev is NULL for the doc's first token
    ev = base.select(
        "id",
        F.explode(
            F.expr(
                "transform(t, (cur, i) -> struct("
                "CASE WHEN i = 0 THEN CAST(NULL AS STRING) "
                "ELSE t[i - 1] END AS prev, cur AS cur))"
            )
        ).alias("e"),
    ).select("id", F.col("e.prev").alias("prev"), F.col("e.cur").alias("cur"))
    ev = track_persist(ev)
    cu = ev.groupBy(F.col("cur").alias("token")).agg(F.count("*").alias("cnt"))
    tot = cu.agg(F.sum("cnt").cast("long").alias("n_corpus"))
    cb = (
        ev.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("bcnt"))
    )
    # small-corpus regime: broadcast the count tables so the three
    # scoring joins stop shuffling every (prev, cur) event (see
    # plan_gates.broadcast_if_small; large corpora keep the shuffle joins)
    cu = plan_gates.broadcast_if_small(docs, cu)
    cb = plan_gates.broadcast_if_small(docs, cb)
    one_m_lam = 1.0 - lam
    scored = (
        ev.join(cu.withColumnRenamed("cnt", "cu_cur"), ev.cur == cu.token)
        .drop("token")
        .join(
            cu.select(
                F.col("token").alias("_pt"), F.col("cnt").alias("cu_prev")
            ),
            ev.prev == F.col("_pt"),
            "left",
        )
        .drop("_pt")
        .join(cb, ["prev", "cur"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_lp_micro",
            F.round(
                F.when(
                    F.col("prev").isNull(),
                    -F.log(
                        F.col("cu_cur").cast("double")
                        / F.col("n_corpus").cast("double")
                    ),
                ).otherwise(
                    -F.log(
                        F.lit(lam)
                        * (
                            F.coalesce(F.col("bcnt"), F.lit(0)).cast("double")
                            / F.col("cu_prev").cast("double")
                        )
                        + F.lit(one_m_lam)
                        * (
                            F.col("cu_cur").cast("double")
                            / F.col("n_corpus").cast("double")
                        )
                    )
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("_lp_micro").alias("surprisal_micronats"),
    )
    from ..functions.perdoc import finalize_per_doc_micro  # noqa: PLC0415

    return finalize_per_doc_micro(
        docs, per_doc, id_col,
        count_col="n_tokens",
        sum_col="surprisal_micronats",
        mean_col="mean_surprisal_nats",
    )


def train_unigram_lm(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus -> unigram LM model frame (token, cnt); the N/V totals
    derive by aggregation at scoring time. Written/read as parquet this
    is the LM artifact a CCNet-style pipeline trains ONCE on a clean
    reference corpus (Wikipedia/books) and applies to every crawl
    delivery."""
    toks = docs.select(
        F.explode_outer(tokens_col(F.col(text_col))).alias("token")
    ).filter(F.col("token").isNotNull())
    return toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))


def unigram_surprisal_lm(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score docs under a FROZEN unigram LM (the output of
    train_unigram_lm over a reference corpus) — the actual CCNet
    deployment shape: the model is trained once on clean text, then
    every raw document is scored against it. NOTE this is NOT
    numerically the self-trained unigram_surprisal even when
    lm = train_unigram_lm(docs): held-out scoring must be OOV-safe, so
    probabilities here are Laplace-smoothed ((cnt+1)/(N+V+1)) while the
    self-trained operator uses the raw MLE cnt/N.

    Held-out scoring must survive out-of-vocabulary tokens, so the
    probability is Laplace-smoothed over the model's vocabulary:
        p(t) = (cnt(t) + 1) / (N + V + 1)
    (the +1 in the denominator funds the single shared OOV event; any
    unseen token scores the same finite maximal surprisal). Integer
    micro-nat discipline as unigram_surprisal.

    Returns (id_col, n_tokens, n_oov, surprisal_micronats,
    mean_surprisal_nats).

    Scale shape: the LM is vocabulary-sized — broadcast into the
    scoring join when small, shuffle-joined on token when not; doc
    tokens explode narrowly and aggregate back on id. The raw corpus
    is never re-counted (that is the point of the frozen model)."""
    stats = lm.agg(
        F.sum("cnt").cast("long").alias("n_lm"),
        F.count("*").cast("long").alias("v_lm"),
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("token"),
    )
    # no persist: the token stream has exactly one consumer (the scoring
    # join) — caching it was write-only overhead
    toks = toks.filter(F.col("token").isNotNull())
    scored = (
        toks.join(plan_gates.broadcast_if_small(lm, lm), "token", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_lp_micro",
            F.round(
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("n_lm") + F.col("v_lm") + F.lit(1)).cast("double")
                )
                * 1_000_000
            ).cast("long"),
        )
        .withColumn("_oov", F.col("cnt").isNull().cast("long"))
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("_oov").cast("long").alias("n_oov"),
        F.sum("_lp_micro").alias("surprisal_micronats"),
    )
    from ..functions.perdoc import finalize_per_doc_micro  # noqa: PLC0415

    return finalize_per_doc_micro(
        docs, per_doc, id_col,
        count_col="n_tokens",
        sum_col="surprisal_micronats",
        mean_col="mean_surprisal_nats",
        extra_long_cols=("n_oov",),
    )
