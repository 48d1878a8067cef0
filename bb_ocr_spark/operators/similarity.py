"""Similarity search over embedding columns (array<float>).

Tiers:

  brute_force_topk   exact cosine top-k: broadcast the (small) query set
                     against the corpus — one narrow pass over the corpus,
                     no corpus shuffle; the per-query top-k is a window on
                     (query_id, score). This is the baseline/verification
                     tier and the right plan whenever |queries| is small
                     enough to broadcast.

  lsh_topk           random-hyperplane LSH: P deterministic hyperplanes
                     (seeded numpy, materialized once on the driver and
                     broadcast) → P-bit signature → candidates = corpus
                     rows sharing a probed bucket (multi-probe: the query
                     also probes buckets reached by flipping its
                     smallest-margin signature bits) → exact cosine
                     re-rank within candidates. Sub-linear scan at scale;
                     recall measured in tests at two probe counts, not
                     assumed.

  embedding_dup_pairs  near-duplicate pairs via the same LSH bucketing
                     (self-join on bucket), exact-cosine verified.

  ivf_topk, pq_topk, ivfpq_topk, ivfpq_topk_residual, semantic_dedup
                     the trained tiers: each takes its model (centroids
                     from train_centroids, codebooks from
                     train_pq_codebooks / train_residual_codebooks) as a
                     required argument and reads every shape from it —
                     list count, subspace count and subspace width.

Every operator reads the columns (vec_id, embedding). Dot products use
F.zip_with + F.aggregate in DOUBLE (JVM expressions, no Python in the
scan path).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import config


def _lit_doubles(nested) -> Column:
    """Literal (arbitrarily nested) array<double> built with ONE py4j
    call. F.lit on a nested python list issues a py4j round trip per
    element — measured 36 s just to CONSTRUCT the residual encoder's
    per-list codebook literals (2 sides x 8 subspaces x 16x16x8 floats)
    before Spark ever saw the plan. A single F.expr string parses
    JVM-side in milliseconds into the same CreateArray-of-literals tree
    (constant-folded once by Catalyst). %.17e round-trips every IEEE
    double exactly and the exponent form parses directly as DOUBLE
    (a plain decimal literal would parse as DECIMAL first)."""

    def fmt(o) -> str:
        try:
            items = iter(o)
        except TypeError:
            return f"{float(o):.17e}"
        return "array(" + ",".join(fmt(x) for x in items) + ")"

    return F.expr(fmt(nested))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _vectors(df: DataFrame, id_name: str, vec_name: str = "_v", norm: bool = False):
    """(id_name, vec_name[, _n]) from the (vec_id, embedding) columns. _n,
    the L2 norm, is materialized as its own column so a per-element
    transform that divides by it does not re-evaluate it per element."""
    out = df.select(F.col("vec_id").alias(id_name), F.col("embedding").alias(vec_name))
    return out.withColumn("_n", _norm(F.col(vec_name))) if norm else out


def _ranked(scored: DataFrame, order: Column, k: int) -> DataFrame:
    """Top-k of (query_id, vec_id, score) rows per query: rk is the
    row_number by `order`, then vec_id, as a long (DuckDB's row_number
    is BIGINT)."""
    w = Window.partitionBy("query_id").orderBy(order, "vec_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def _cosine_ranked(joined: DataFrame, k: int, dedup: bool = False) -> DataFrame:
    """Exact cosine re-rank of joined (vec_id, c_vec, query_id, q_vec)
    candidate rows, self-matches dropped; `dedup` drops a candidate met
    through several probes."""
    scored = joined.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", cosine_col(F.col("q_vec"), F.col("c_vec")).alias("cosine")
    )
    if dedup:
        scored = scored.dropDuplicates(["query_id", "vec_id"])
    return _ranked(scored, F.desc("cosine"), k)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).
    queries is broadcast; corpus is scanned once, narrow."""
    c = _vectors(corpus, "vec_id", "c_vec")
    q = _vectors(queries, "query_id", "q_vec")
    return _cosine_ranked(c.crossJoin(F.broadcast(q)), k)


# --------------------------------------------------------------------------
# random-hyperplane LSH
# --------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = config.SEED):
    import numpy as np  # noqa: PLC0415

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype("float64")


def signature_col(vec: Column, planes) -> Column:
    """P-bit signature as a long: bit p = sign(vec · plane_p) >= 0.
    planes is a driver-side numpy array folded into literal expressions —
    constant-folded by Catalyst, broadcast with the plan. Derived from the
    rounded dots array so a SQL oracle reproduces it bit-for-bit."""
    return _sig_from_dots(_plane_dots_col(vec, planes), len(planes))


def _plane_dots_col(vec: Column, planes) -> Column:
    """array<double> of dot(vec, plane_p) for every hyperplane, rounded to
    9 decimals so signature bits and probe order are reproducible across
    engines with different float summation orders."""

    def plane_dot(plane) -> Column:
        lit_plane = _lit_doubles(plane)
        return F.round(
            F.aggregate(
                F.transform(
                    vec,
                    lambda x, i: x.cast("double")
                    * F.element_at(lit_plane, i.cast("int") + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        )

    return F.array(*[plane_dot(p) for p in planes])


def _sig_from_dots(dots: Column, n_planes: int) -> Column:
    """packed signature: bit p set iff dots[p] >= 0."""
    powers = F.lit([1 << p for p in range(n_planes)])
    return F.aggregate(
        F.zip_with(
            dots,
            powers,
            lambda d, w: F.when(d >= 0, w.cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within probed LSH buckets.
    `dim` is the vector width (LSH has no trained model to read it from).

    Multi-probe: besides its own bucket, each query probes the n_probe-1
    buckets obtained by flipping the signature bit whose hyperplane margin
    |dot| is smallest — the buckets a true neighbor most likely landed in
    when it fell just on the other side of a plane. Probing multiplies only
    the QUERY side (n_probe rows per query before the join); the corpus is
    bucketed once. Recall vs n_probe is measured in tests, not assumed.

    Sizing rule: n_planes ≈ log2(corpus_size / target_bucket_size).
    Expected bucket occupancy is corpus/2^n_planes (uniform-ish for
    gaussian-like embeddings), and each extra plane both halves the
    candidate scan AND adds one more sign a true neighbor must match —
    recall at a fixed probe count falls as planes grow. 10 planes is
    corpus-sized for the sf0.01 test tables (~5k vectors → ~5/bucket); at
    10^9 vectors target ~10^3-row buckets with n_planes ≈
    log2(10^9/10^3) = 20, and recover the per-plane recall loss with
    multi-probe (n_probe) or bands (embedding_dup_pairs). Measured, not
    assumed: see test_lsh_plane_count_sizing (recall + bucket occupancy
    at 1x vs 4x planes) and test_lsh_multiprobe_recall."""
    planes = _hyperplanes(dim, n_planes)
    c = _vectors(corpus, "vec_id", "c_vec").withColumn(
        "bucket", signature_col(F.col("c_vec"), planes)
    )
    # dots materialized as a column: sig + margins both reference it, and
    # expression trees duplicate at construction time (no CSE across HOFs)
    q = _vectors(queries, "query_id", "q_vec").withColumn(
        "_dots", _plane_dots_col(F.col("q_vec"), planes)
    )
    sig = _sig_from_dots(F.col("_dots"), n_planes)
    powers = F.lit([1 << p for p in range(n_planes)])
    # planes ordered by |margin| ascending; flip the closest n_probe-1
    margins = F.array_sort(
        F.zip_with(
            F.col("_dots"),
            powers,
            lambda d, w: F.struct(F.abs(d).alias("m"), w.cast("long").alias("w")),
        )
    )
    flips = F.transform(
        F.slice(margins, 1, max(n_probe - 1, 0)),
        lambda s: F.col("_sig").bitwiseXOR(s["w"]),
    )
    q = (
        q.withColumn("_sig", sig)
        # explode_outer: a plain explode's inferred filter re-inlines the
        # probe-list construction (and through it the signature/dot chain)
        # into an extra evaluation per row — the Generate-filter trap. The
        # probe array is never empty (own bucket always present).
        .withColumn(
            "bucket", F.explode_outer(F.concat(F.array(F.col("_sig")), flips))
        )
        .select("query_id", "q_vec", "bucket")
    )
    return _cosine_ranked(c.join(q, "bucket"), k, dedup=True)


def _band_seed(seed: int, band: int) -> int:
    """Per-band hyperplane seed; band 0 keeps the base seed so bands=1 is
    bit-compatible with the unbanded operator."""
    return seed + band * 7919


def _banded_buckets(
    df: DataFrame, dim: int, n_planes: int, bands: int, keep_vec: bool
) -> DataFrame:
    """(id[, vec], band, bucket) rows — ONE definition of the banded
    bucketing shared by embedding_dup_pairs and embedding_dup_hot_buckets
    so the hot-bucket report is bit-identical to what the pair generator
    suppresses (two hand-maintained copies would silently drift)."""
    base = _vectors(df, "id", "vec")
    bucket_structs = [
        F.struct(
            F.lit(band).alias("band"),
            signature_col(
                F.col("vec"),
                _hyperplanes(dim, n_planes, _band_seed(config.SEED, band)),
            ).alias("bucket"),
        )
        for band in range(bands)
    ]
    out_cols = ["id"] + (["vec"] if keep_vec else [])
    # explode_outer: a plain explode's inferred size/isnotnull filter
    # re-embeds every band's signature expression (n_planes dot products
    # each) into extra per-row evaluations; the band array is a non-empty
    # literal-arity construction, so outer emits identical rows
    return base.select(
        *out_cols, F.explode_outer(F.array(*bucket_structs)).alias("bk")
    ).select(
        *out_cols, F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def embedding_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    bands: int = 1,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Near-duplicate (a < b) pairs with cosine >= threshold: candidates via
    LSH bucket self-join (near-identical vectors agree on every hyperplane
    sign with high probability), exact-cosine verified.

    bands — independent hyperplane sets (seeded per band): a pair is a
    candidate if it collides in ANY band, so per-band recall shortfalls
    multiply away ((1-p)^bands miss probability) and a bucket capped in one
    band keeps its true pairs through the others.

    max_bucket — bucket-size cap, same rationale as minhash_lsh_pairs: a
    dense near-dup CLUSTER (the exact thing this operator finds) puts k
    members in one bucket and the self-join emits k(k-1)/2 pairs; at 10^9
    vectors even uniform hashing makes single buckets quadratic. Buckets
    over the cap are dropped per band BEFORE pairing (the hot set is tiny
    and stays broadcastable). Note a cluster larger than max_bucket shares
    buckets in EVERY band (its members agree on all plane signs), so its
    pairs are intentionally suppressed, not recovered — size the cap above
    the largest dup cluster whose full pair list you actually want. The
    suppression is OBSERVABLE, never implied: call
    embedding_dup_hot_buckets with the same parameters to get the capped
    (band, bucket, size, member ids) set — a capped bucket IS the cluster
    finding, delivered as one row instead of size²/2 pair rows. None
    disables the cap.

    The bucketed frame feeds the hot-bucket pre-pass plus both self-join
    sides (no CSE across self-joins) — persisted via cache.track_persist;
    call cache.release_persisted() after the consuming action."""
    b = _banded_buckets(df, dim, n_planes, bands, keep_vec=True)
    from ..cache import track_persist  # noqa: PLC0415

    b = track_persist(b)
    if max_bucket is not None:
        hot = (
            b.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket)
            .select("band", "bucket")
        )
        # AQE broadcasts the (tiny) hot set when safe; no forced hint
        b = b.join(hot, ["band", "bucket"], "left_anti")
    return (
        b.alias("a")
        .join(b.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", cosine_col(F.col("a.vec"), F.col("b.vec")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        # a pair colliding in several bands appears once; dedup AFTER the
        # verify so the dedup shuffle moves (id, id, double) rows, not two
        # dim-wide vectors per row
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_dup_hot_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 10,
    bands: int = 1,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """The (band, bucket, size, member_ids) rows embedding_dup_pairs
    SUPPRESSES under the same parameters — call this alongside it so
    capped dense clusters are reported as one row each instead of being
    silently dropped (the no-silent-truncation rule). member_ids is a
    sorted id array per hot bucket: a bucket over the cap is itself the
    dup-cluster finding. (At extreme cluster sizes the member array is a
    single-reducer payload — select only (band, bucket, size) there and
    semi-join the bucketed frame for members instead.)"""
    b = _banded_buckets(df, dim, n_planes, bands, keep_vec=False)
    return (
        b.groupBy("band", "bucket")
        .agg(
            F.count("*").alias("size"),
            F.array_sort(F.collect_list("id")).alias("member_ids"),
        )
        .filter(F.col("size") > (max_bucket if max_bucket is not None else 2**62))
    )


# Every ANN model trains on one sample of its corpus: the first
# SAMPLE_CAP vectors by id. Sorting pins the sample (a Spark `limit` on a
# multi-file read has no stable order), so the two readers below return
# the same array for the same rows, and each recipe runs a fixed number
# of k-means iterations from config.SEED.
SAMPLE_CAP = 4096
KMEANS_ITERS = 10


def training_sample(corpus: DataFrame):
    """The training sample of a corpus frame, float64 (n × dim): a Spark
    `orderBy(id).limit(SAMPLE_CAP)` collected to the driver. The models
    are tiny and training them on a bounded sample is the standard IVF/PQ
    recipe; at 100 TB the equivalent is a `sample(fraction).limit(cap)`
    collect of a few thousand vectors."""
    import numpy as np  # noqa: PLC0415

    pdf = (
        corpus.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(SAMPLE_CAP)
        .toPandas()
    )
    return np.stack(pdf["embedding"].to_numpy()).astype("float64")


def training_sample_parquet(path: str):
    """The same sample read with pyarrow from a parquet file or directory
    of (vec_id, embedding) rows, for callers with no Spark session (the
    driver contract's SQL oracles)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    pdf = (
        pd.read_parquet(path, columns=["vec_id", "embedding"])
        .sort_values("vec_id")
        .head(SAMPLE_CAP)
    )
    return np.stack(pdf["embedding"].to_numpy()).astype("float64")


def train_centroids(corpus: DataFrame, n_centroids: int = 16):
    """Spherical k-means centroids (kmeans_numpy) of the corpus's training
    sample. A fully-distributed k-means|| would only change WHO computes
    the same few-KB model."""
    return kmeans_numpy(training_sample(corpus), n_centroids)


def kmeans_numpy(x, n_centroids: int):
    """The IVF centroid recipe: deterministic spherical k-means of a
    training sample (rows unit-normalized, cosine assignment)."""
    import numpy as np  # noqa: PLC0415

    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(config.SEED + 2)
    cents = x[rng.choice(len(x), size=n_centroids, replace=False)].copy()
    for _ in range(KMEANS_ITERS):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cents[c] = v / nv
    return cents


def _centroid_scores_col(vec: Column, cents) -> Column:
    """array<struct<cos,idx>> of dot vs every centroid (norm of vec cancels
    in ranking, so plain dots rank identically). Dots are rounded to 9
    decimals so list assignment / probe order is reproducible across
    engines with different float summation orders (a SQL oracle's
    list_dot_product need not match Spark's fold bit-for-bit).

    Built as ONE F.expr: the python-builder form issued ~6 py4j round
    trips per centroid (HOF lambdas + literals — 0.9 s of pure driver
    chatter per call at 16x64, and every ANN operator calls this 2x);
    the SQL string parses JVM-side in ~4 ms into the same
    zip_with/aggregate left fold, verified bit-identical on the full
    gate corpus. %.17e literals parse directly as DOUBLE."""
    name = vec._jc.toString()  # call sites pass simple named columns
    structs = []
    for i, c in enumerate(cents):
        lit = "array(" + ",".join(f"{float(v):.17e}" for v in c) + ")"
        dot = (
            f"round(aggregate(zip_with({name}, {lit}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
            f"(acc, v) -> acc + v), 9)"
        )
        structs.append(f"struct({dot} AS cos, {i} AS idx)")
    return F.expr("array(" + ",".join(structs) + ")")


def _list_id(vec: Column, centroids) -> Column:
    """The coarse list of a vector: its nearest centroid by rounded dot,
    ties to the highest index (array_max over (cos, idx) structs)."""
    return F.array_max(_centroid_scores_col(vec, centroids))["idx"]


def _probed(
    df: DataFrame, vec: str, centroids, n_probe: int, keep: list[str]
) -> DataFrame:
    """The `keep` columns of df, one row per probed list `list_id`: the
    n_probe nearest lists of `vec`, in (dot desc, index desc) order.
    explode_outer: a plain explode's inferred size>0 filter re-inlines
    the centroid-score chain into an extra evaluation per row (the
    Generate-filter trap); the probe array is never empty (n_probe >= 1).
    The probe array is its own `_probes` column below the explode: the
    query side's size estimate counts it, and without it ivf_topk's join
    broadcasts the other side and adds a window shuffle at sf0.001/0.01
    (tests/test_plans.py::test_ann_plan_shapes)."""
    probes = F.slice(
        F.reverse(F.array_sort(_centroid_scores_col(F.col(vec), centroids))),
        1,
        n_probe,
    )
    return df.withColumn("_probes", probes).select(
        *keep,
        F.explode_outer(F.transform("_probes", lambda p: p["idx"])).alias("list_id"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: corpus rows are assigned to their nearest (by dot)
    unit centroid (inverted lists = hash partitions on list id); each
    query probes its n_probe nearest lists and exact cosine re-ranks
    within them. Scan cost drops to ~n_probe/len(centroids) of the
    corpus. `centroids` is the trained model (train_centroids: spherical
    k-means on a corpus sample); the list count is its row count.

    Sizing rule: the classical IVF balance point is n_centroids ≈
    sqrt(corpus_size) (list length ≈ centroid count, so assignment cost
    and probe cost match); 16 centroids is corpus-sized for the
    ~5k-vector sf0.01 tables. At 10^9 vectors use ~32k centroids and keep
    n_probe at 1-5% of them; the plan shape (broadcast centroid literals,
    hash-partitioned inverted lists, per-list re-rank) is unchanged."""
    c = _vectors(corpus, "vec_id", "c_vec").withColumn(
        "list_id", _list_id(F.col("c_vec"), centroids)
    )
    q = _probed(
        _vectors(queries, "query_id", "q_vec"),
        "q_vec",
        centroids,
        n_probe,
        ["query_id", "q_vec"],
    )
    return _cosine_ranked(c.join(q, "list_id"), k)


def lsh_oracle_sql(
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    n_probe: int = 3,
    max_query_id: int = 10,
    table: str = "embeddings",
    seed: int = config.SEED,
) -> str:
    """DuckDB SQL recomputing lsh_topk EXACTLY: the seeded hyperplanes are
    regenerated (same numpy RNG) and folded in as literals; signature
    bits, margin-ordered multi-probe bit flips (ties to the lower plane),
    and the exact cosine re-rank mirror the Spark expressions including
    the round-9 dot stabilization. A green row verifies the whole
    multi-probe ANN mechanism, not just its output shape."""
    planes = _hyperplanes(dim, n_planes, seed)
    ds_terms = ", ".join(
        "round(list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(float(v)) for v in p)
        + "]), 9)"
        for p in planes
    )
    powers = ", ".join(str(1 << p) for p in range(n_planes))
    sig_terms = " + ".join(
        f"(CASE WHEN ds[{p + 1}] >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH dots AS (
  SELECT vec_id, embedding, [{ds_terms}] AS ds FROM {table}
), sigs AS (
  SELECT vec_id, embedding, ds, CAST({sig_terms} AS BIGINT) AS sig FROM dots
), q_flips AS (
  SELECT vec_id AS query_id, embedding AS qv,
         xor(sig, w) AS probe
  FROM (SELECT vec_id, embedding, sig, unnest(ds) AS d, unnest([{powers}]) AS w
        FROM sigs)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY abs(d), w)
          <= {n_probe - 1}
), q_probe AS (
  SELECT vec_id AS query_id, embedding AS qv, sig AS probe
  FROM sigs WHERE vec_id < {max_query_id}
  UNION ALL
  SELECT query_id, qv, probe FROM q_flips WHERE query_id < {max_query_id}
), scored AS (
  SELECT p.query_id, s.vec_id,
         round(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                      CAST(s.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM q_probe p JOIN sigs s ON s.sig = p.probe AND s.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored)
WHERE rk <= {k}
"""


def dup_pairs_oracle_sql(
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 10,
    bands: int = 1,
    max_bucket: int | None = 1024,
    n_planted: int = 25,
    table: str = "embeddings",
    seed: int = config.SEED,
) -> str:
    """DuckDB SQL recomputing the embedding_dup_pairs query (with its
    planted scaled near-dups): per-band signatures from regenerated plane
    literals, the hot-bucket cap, the banded bucket self-join, exact-cosine
    verification, and the cross-band pair dedup — the full capped+banded
    near-dup mechanism replayed."""

    def ds_terms(emb: str, planes) -> str:
        return ", ".join(
            f"round(list_dot_product(CAST({emb} AS DOUBLE[]), ["
            + ", ".join(repr(float(v)) for v in p)
            + "]), 9)"
            for p in planes
        )

    sig_terms = " + ".join(
        f"(CASE WHEN ds[{p + 1}] >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    band_sigs = "\n  UNION ALL\n".join(
        f"""  SELECT vec_id, v, {band} AS band, CAST({sig_terms} AS BIGINT) AS bucket
  FROM (SELECT vec_id, v,
               [{ds_terms('v', _hyperplanes(dim, n_planes, _band_seed(seed, band)))}]
                 AS ds FROM base)"""
        for band in range(bands)
    )
    cap_cte = (
        f"""kept AS (
  SELECT s.* FROM sigs s
  LEFT JOIN (SELECT band, bucket FROM sigs
             GROUP BY band, bucket HAVING count(*) > {max_bucket}) h
    ON s.band = h.band AND s.bucket = h.bucket
  WHERE h.band IS NULL
)"""
        if max_bucket is not None
        else "kept AS (SELECT * FROM sigs)"
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) AS v
  FROM {table} WHERE vec_id < {n_planted}
), sigs AS (
{band_sigs}
), {cap_cte},
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b,
       round(list_cosine_similarity(x.v, y.v), 6) AS cosine
FROM pairs p
JOIN base x ON x.vec_id = p.id_a
JOIN base y ON y.vec_id = p.id_b
WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
"""


def ivf_oracle_sql(
    centroids,
    n_probe: int = 4,
    k: int = 5,
    max_query_id: int = 10,
) -> str:
    """DuckDB SQL recomputing ivf_topk EXACTLY over the `embeddings`
    table: the SQL replays the given centroid model, folded in as
    literals; list assignment, probe selection, and re-rank mirror the
    Spark expressions including tie-breaks (argmax ties → highest centroid
    index; probe order (dot desc, index desc)) and the round-9 dot
    stabilization. A green driver row therefore verifies the whole IVF
    operator — assignment, n_probe pruning, exact re-rank — not just its
    output shape."""
    n_centroids = len(centroids)
    ds_terms = ", ".join(
        "round(list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(float(v)) for v in c)
        + "]), 9)"
        for c in centroids
    )
    idxs = ", ".join(str(i) for i in range(n_centroids))
    return f"""
WITH dots AS (
  SELECT vec_id, embedding, [{ds_terms}] AS ds FROM embeddings
), assigned AS (
  SELECT vec_id, embedding,
         {n_centroids} - list_position(list_reverse(ds), list_max(ds)) AS list_id
  FROM dots
), q_probe AS (
  SELECT query_id, qv, i AS list_id
  FROM (SELECT vec_id AS query_id, embedding AS qv,
               unnest(ds) AS d, unnest([{idxs}]) AS i
        FROM dots WHERE vec_id < {max_query_id})
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d DESC, i DESC)
          <= {n_probe}
), scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])), 6)
           AS cosine
  FROM q_probe p
  JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored)
WHERE rk <= {k}
"""


# --------------------------------------------------------------------------
# product quantization (PQ-ADC) — the memory-bound ANN tier
# --------------------------------------------------------------------------


def kmeans_l2_numpy(x, ksub: int, seed: int):
    """Deterministic plain-L2 k-means (PQ codebooks quantize raw
    subvectors, so EUCLIDEAN centroids — unlike the spherical
    kmeans_numpy used for IVF's cosine coarse quantizer)."""
    import numpy as np  # noqa: PLC0415

    x = x.astype("float64")
    rng = np.random.RandomState(seed + 3)
    cents = x[rng.choice(len(x), size=ksub, replace=False)].copy()
    for _ in range(KMEANS_ITERS):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(ksub):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _subspace_codebooks(x, m: int, ksub: int):
    """One L2 codebook (ksub × dim/m) per subspace j of x, seeded
    config.SEED + j."""
    assert x.shape[1] % m == 0, "dim must divide evenly into m subspaces"
    dsub = x.shape[1] // m
    return [
        kmeans_l2_numpy(x[:, j * dsub : (j + 1) * dsub], ksub, config.SEED + j)
        for j in range(m)
    ]


def pq_codebooks_numpy(x, m: int, ksub: int):
    """The PQ codebook recipe over a training sample x (n × dim).

    Vectors are L2-NORMALIZED before splitting into subspaces (and the
    encode/query path normalizes identically): on unit vectors
    ||a-b||² = 2 - 2cos(a,b), so ADC's L2 ranking matches the cosine
    ranking the rest of the similarity suite uses — without this, PQ
    over raw vectors ranks by magnitude-skewed L2 (measured recall@5
    collapsed 0.8 → 0.17 on the test corpus)."""
    import numpy as np  # noqa: PLC0415

    return _subspace_codebooks(
        x / np.linalg.norm(x, axis=1, keepdims=True), m, ksub
    )


def train_pq_codebooks(corpus: DataFrame, m: int = 8, ksub: int = 16):
    """pq_codebooks_numpy over the corpus's training sample; the vector
    width is the sample's."""
    return pq_codebooks_numpy(training_sample(corpus), m, ksub)


def _sub_l2_scored(books: str, c2: str, j: int, dsub: int) -> Column:
    """array<struct<d,idx>> of rounded unit-sphere L2 distances from
    subspace j of the raw vector `_v` (L2 norm `_n`) to every row of a
    codebook, via ‖v/n − c‖² = 1 + ‖c‖² − 2⟨v,c⟩/n; array_min picks
    (d asc, idx asc) — the deterministic assignment. `books` (the
    ksub × dsub codebook) and `c2` (its rows' ‖c‖² folds) are SQL
    fragments: literal arrays (_literal_books), or
    element_at(<col>, list_id + 1) picking a per-list codebook that rides
    in as a column (ivfpq_topk_residual).

    HOF form on purpose: an unrolled literal expression tree
    (m·ksub·dsub ≈ 1024 terms) blows past Janino's method-size limit —
    whole-stage codegen FAILS and the whole stage falls back to
    interpreted tree walking (measured 17 s to encode 2000 vectors).
    As transform/aggregate over a literal array-of-arrays the tree is
    ~50 nodes with runtime loops, codegen compiles, and the identical
    arithmetic order (left fold from 0.0) keeps the SQL oracle
    bit-exact. ONE F.expr (same py4j-chatter economics as
    _centroid_scores_col: the lambda-builder form cost ~60 ms per call x
    16 calls per PQ query; the SQL string parses JVM-side in
    microseconds into the identical transform/aggregate tree)."""
    sub = f"transform(slice(_v, {j * dsub + 1}, {dsub}), x -> CAST(x AS DOUBLE))"
    return F.expr(
        f"transform({books}, (c, i) -> struct("
        f"round(CAST(1.0 AS DOUBLE) + element_at({c2}, CAST(i AS INT) + 1)"
        f" - CAST(2.0 AS DOUBLE) * aggregate(zip_with({sub}, c, "
        f"(x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, v) -> a + v) "
        f"/ _n, 9) AS d, CAST(i AS INT) AS idx))"
    )


def _literal_books(codebooks) -> list[tuple[str, str]]:
    """(codebook, ‖c‖² folds) SQL literals per subspace (%.17e parses
    directly as DOUBLE and round-trips every IEEE double)."""

    def arr(items) -> str:
        return "array(" + ",".join(items) + ")"

    return [
        (
            arr(arr(f"{float(v):.17e}" for v in c) for c in cb),
            arr(f"{_fold_c2(c):.17e}" for c in cb),
        )
        for cb in codebooks
    ]


def _pq_codes(books, dsub: int) -> Column:
    """array<int> `codes` of m codes: per subspace, the index of the
    nearest codebook row (rounded-9 L2, ties to the smallest index).
    64-dim float vectors compress to m bytes — the representation that
    lets a 10^12-vector corpus fit a scan budget."""
    return F.array(
        *[
            F.array_min(_sub_l2_scored(b, c2, j, dsub))["idx"]
            for j, (b, c2) in enumerate(books)
        ]
    ).alias("codes")


def _pq_tables(books, dsub: int) -> list[Column]:
    """The per-subspace ADC distance tables `_t{j}` of a query."""
    return [
        F.transform(_sub_l2_scored(b, c2, j, dsub), lambda s: s["d"]).alias(f"_t{j}")
        for j, (b, c2) in enumerate(books)
    ]


def _adc_ranked(joined: DataFrame, m: int, k: int) -> DataFrame:
    """ADC top-k of joined (vec_id, codes, query_id, _t0.._t{m-1}) rows:
    each code's table entry summed in fixed subspace order, the total
    rounded to 6dp, ranked by (adc_dist asc, vec_id asc)."""
    adc = functools.reduce(
        operator.add,
        [
            F.try_element_at(
                F.col(f"_t{j}"), F.try_element_at(F.col("codes"), F.lit(j + 1)) + 1
            )
            for j in range(m)
        ],
    )
    scored = joined.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(adc, 6).alias("adc_dist")
    )
    return _ranked(scored, F.asc("adc_dist"), k)


def pq_topk(
    corpus: DataFrame, queries: DataFrame, codebooks, k: int = 10
) -> DataFrame:
    """PQ-ADC top-k: the corpus is scanned as m-byte codes only
    (asymmetric distance: query subvector → codebook-entry distance
    table, corpus vector ≈ its code's entry). `codebooks` is the trained
    model (train_pq_codebooks); m and the subspace width are its shape.
    Returns (query_id, vec_id, adc_dist, rk), rk by (adc_dist asc,
    vec_id asc).

    Scale shape: encode once (in production: materialize the codes
    column and never re-read raw vectors), broadcast the tiny query set,
    scan codes linearly — the corpus-side payload is m bytes/vector, so
    the scan is memory-bandwidth-cheap where a raw-vector scan is 32x
    bigger. Distance-table entries are rounded to 9dp and summed in
    fixed subspace order (total rounded to 6dp) so the SQL oracle
    replays ranks exactly. Vectors are unit-normalized first (see
    pq_codebooks_numpy — makes ADC-L2 rank like cosine). Approximate by
    construction: recall vs brute force is MEASURED in tests, never
    assumed."""
    books, dsub = _literal_books(codebooks), len(codebooks[0][0])
    c = _vectors(corpus, "vec_id", norm=True).select("vec_id", _pq_codes(books, dsub))
    # the per-query distance tables are MATERIALIZED as columns on the
    # (tiny, broadcast) query frame BEFORE the join: left inside the
    # post-join projection they would re-evaluate per (corpus × query)
    # output row
    q = _vectors(queries, "query_id", norm=True).select(
        "query_id", *_pq_tables(books, dsub)
    )
    return _adc_ranked(c.crossJoin(F.broadcast(q)), len(books), k)


def _pq_dist_term_sql(src: str, nsrc: str, j: int, cent, dsub: int) -> str:
    # mirror of _sub_l2_scored exactly: 1 + ||c||² − 2⟨v_sub,c⟩/n with
    # ||c||² as the python left-fold literal (same IEEE order as the
    # Spark aggregate) and the dot as a left-assoc sum
    c2 = _fold_c2(cent)
    dot = " + ".join(
        f"{src}[{j * dsub + i + 1}] * {float(cent[i])!r}" for i in range(dsub)
    )
    return f"round(1.0 + {c2!r} - 2.0 * ({dot}) / {nsrc}, 9)"


def _pq_dlist_sql(books, dsub: int, src: str, nsrc: str, j: int) -> str:
    return (
        "["
        + ", ".join(
            _pq_dist_term_sql(src, nsrc, j, c, dsub) for c in books[j]
        )
        + "]"
    )


def pq_oracle_sql(
    codebooks,
    k: int = 5,
    max_query_id: int = 10,
) -> str:
    """DuckDB SQL recomputing pq_topk EXACTLY over the `embeddings`
    table: the SQL replays the given codebooks — encode, distance tables
    and ADC with the same rounding (entries 9dp, totals 6dp), the same
    summation order (fixed dim order inside a term, fixed subspace order
    in the total), and the same tie-breaks (code ties → smallest index
    via list_position-of-min; ranks by adc asc, vec_id asc)."""
    import numpy as np  # noqa: PLC0415

    m, _, dsub = np.shape(codebooks)

    def dlist(src: str, nsrc: str, j: int) -> str:
        return _pq_dlist_sql(codebooks, dsub, src, nsrc, j)

    ds_cols = ",\n         ".join(
        f"{dlist('v', 'n', j)} AS ds_{j}" for j in range(m)
    )
    code_cols = ", ".join(
        f"list_position(ds_{j}, list_min(ds_{j})) - 1 AS c_{j}"
        for j in range(m)
    )
    qt_cols = ",\n         ".join(
        f"{dlist('qv', 'qn', j)} AS t_{j}" for j in range(m)
    )
    adc = " + ".join(f"qt.t_{j}[enc.c_{j} + 1]" for j in range(m))
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS n
  FROM embeddings
), ds AS (
  SELECT vec_id, {ds_cols} FROM e
), enc AS (
  SELECT vec_id, {code_cols} FROM ds
), q AS (
  SELECT vec_id AS query_id, v AS qv, n AS qn FROM e
  WHERE vec_id < {max_query_id}
), qt AS (
  SELECT query_id, {qt_cols} FROM q
), scored AS (
  SELECT qt.query_id, enc.vec_id, round({adc}, 6) AS adc_dist
  FROM enc CROSS JOIN qt WHERE enc.vec_id <> qt.query_id
), ranked AS (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {k}
"""


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """The full FAISS-style two-stage ANN: IVF coarse quantizer prunes
    the scan to n_probe inverted lists, PQ-ADC scores the survivors as
    m-byte codes. Composition of the two verified stages: the coarse
    assignment/probing is ivf_topk's (rounded dots, ties → highest
    centroid index, probe order (dot desc, index desc)), the fine
    distance is pq_topk's (unit-sphere ADC, 9dp tables, fixed summation
    order). Both models are required; every shape comes from them.
    Returns (query_id, vec_id, adc_dist, rk), rk by (adc_dist asc,
    vec_id asc).

    Scale shape: corpus rows carry ONLY (list_id, m bytes of codes) into
    the probe join — at 10^12 vectors that is the difference between a
    scan of codes (~TB) and a scan of raw vectors (~32x more); the query
    side (probes × distance tables) is broadcast. PQ here quantizes the
    unit vector directly (IVF-Flat-PQ); the classical residual encoding
    is a refinement that changes WHAT the codebooks see, not the plan."""
    books, dsub = _literal_books(codebooks), len(codebooks[0][0])
    c = _vectors(corpus, "vec_id", norm=True).select(
        "vec_id",
        _list_id(F.col("_v"), centroids).alias("list_id"),
        _pq_codes(books, dsub),
    )
    tables = _vectors(queries, "query_id", norm=True).select(
        "query_id", "_v", *_pq_tables(books, dsub)
    )
    t_cols = [f"_t{j}" for j in range(len(books))]
    q = _probed(tables, "_v", centroids, n_probe, ["query_id", *t_cols])
    return _adc_ranked(c.join(F.broadcast(q), "list_id"), len(books), k)


def ivfpq_oracle_sql(
    centroids,
    codebooks,
    k: int = 5,
    n_probe: int = 4,
    max_query_id: int = 10,
) -> str:
    """DuckDB SQL recomputing ivfpq_topk EXACTLY over the `embeddings`
    table: the SQL replays the given coarse centroids and PQ codebooks,
    coarse assignment/probing with the ivf_oracle_sql formulas and the
    fine ADC with the pq_oracle_sql formulas."""
    import numpy as np  # noqa: PLC0415

    n_centroids = len(centroids)
    m, _, dsub = np.shape(codebooks)
    ivf_ds = ", ".join(
        "round(list_dot_product(v, ["
        + ", ".join(repr(float(vv)) for vv in c)
        + "]), 9)"
        for c in centroids
    )
    idxs = ", ".join(str(i) for i in range(n_centroids))
    ds_cols = ",\n         ".join(
        f"{_pq_dlist_sql(codebooks, dsub, 'v', 'n', j)} AS ds_{j}"
        for j in range(m)
    )
    code_cols = ", ".join(
        f"list_position(ds_{j}, list_min(ds_{j})) - 1 AS c_{j}"
        for j in range(m)
    )
    qt_cols = ",\n         ".join(
        f"{_pq_dlist_sql(codebooks, dsub, 'qv', 'qn', j)} AS t_{j}"
        for j in range(m)
    )
    adc = " + ".join(f"qt.t_{j}[enc.c_{j} + 1]" for j in range(m))
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS n
  FROM embeddings
), dots AS (
  SELECT vec_id, v, n, [{ivf_ds}] AS ds FROM e
), assigned AS (
  SELECT vec_id, v, n,
         {n_centroids} - list_position(list_reverse(ds), list_max(ds))
           AS list_id
  FROM dots
), pqds AS (
  SELECT vec_id, list_id, {ds_cols} FROM assigned
), enc AS (
  SELECT vec_id, list_id, {code_cols} FROM pqds
), q_probe AS (
  SELECT query_id, qv, qn, i AS list_id
  FROM (SELECT vec_id AS query_id, v AS qv, n AS qn,
               unnest(ds) AS d, unnest([{idxs}]) AS i
        FROM dots WHERE vec_id < {max_query_id})
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d DESC, i DESC)
          <= {n_probe}
), qt AS (
  SELECT query_id, list_id, {qt_cols} FROM q_probe
), scored AS (
  SELECT qt.query_id, enc.vec_id, round({adc}, 6) AS adc_dist
  FROM enc JOIN qt ON enc.list_id = qt.list_id
                  AND enc.vec_id <> qt.query_id
), ranked AS (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {k}
"""


# --------------------------------------------------------------------------
# residual IVF-PQ (the classical refinement: PQ over coarse residuals)
# --------------------------------------------------------------------------


def residual_codebooks_numpy(x, centroids, m: int, ksub: int):
    """The residual PQ codebook recipe over a training sample x: PQ
    codebooks of the COARSE RESIDUALS u − c_assigned (u the unit vector,
    c its coarse_assign_numpy centroid), pooled across lists — the
    classical shared-codebook IVFADC recipe. The quantizer then only has
    to cover the residual ball around each centroid instead of the whole
    sphere, which is why residual PQ beats plain PQ at the same bit
    budget."""
    import numpy as np  # noqa: PLC0415

    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    r = u - np.asarray(centroids)[coarse_assign_numpy(x, centroids)]
    return _subspace_codebooks(r, m, ksub)


def train_residual_codebooks(
    corpus: DataFrame, centroids, m: int = 8, ksub: int = 16
):
    """residual_codebooks_numpy over the corpus's training sample; the
    vector width is the sample's."""
    return residual_codebooks_numpy(training_sample(corpus), centroids, m, ksub)


def coarse_assign_numpy(x, centroids):
    """The numpy twin of the RUNTIME coarse rule (_list_id): dots of the RAW vectors (not normalized — rounding raw
    vs normalized dots resolves near-9dp-boundary cases differently for
    non-unit vectors, so the mirror must round exactly what the encoder
    rounds) to 9 decimals, ties -> HIGHEST centroid index (numpy's plain
    argmax breaks ties toward the lowest index, which would train a tied
    vector's residual against a centroid the encoder never assigns it
    to; argmax over the reversed columns flips the tie rule to match).
    The SINGLE copy of this rule, used by residual_codebooks_numpy."""
    import numpy as np  # noqa: PLC0415

    dots = np.round(np.asarray(x, dtype="float64") @ np.asarray(centroids).T, 9)
    return dots.shape[1] - 1 - dots[:, ::-1].argmax(axis=1)


def _fold_c2(c) -> float:
    """python left fold of ||c||^2 — bit-identical to the IEEE order the
    SQL oracle embeds and the Spark-side literal shares; the single copy
    used by the encoder frame, the plain-PQ scorer, and the residual
    oracle generator."""
    acc = 0.0
    for v in c:
        acc = acc + float(v) * float(v)
    return acc


def _shifted_books(centroids, codebooks, j: int, dsub: int):
    """per-list shifted codebook for subspace j: c'_{l,c} = cent_l[sub_j]
    + book_j[c]. The residual distance ‖(u − cent_l)_sub − book_c‖²
    equals ‖u_sub − c'‖² exactly, so the SAME unit-sphere form used
    everywhere else (1 + ‖c'‖² − 2⟨v_sub,c'⟩/n, summed over subspaces)
    IS the classical IVFADC reconstruction distance ‖u − (cent_l +
    book_codes)‖² — valid across lists, no hidden constants."""
    import numpy as np  # noqa: PLC0415

    cents = np.asarray(centroids)
    return [
        [cents[lst, j * dsub : (j + 1) * dsub] + c for c in codebooks[j]]
        for lst in range(len(cents))
    ]


def _shifted_books_frame(spark, centroids, residual_books):
    """The per-list shifted codebooks + their ||c'||^2 folds as a 1-ROW
    broadcastable DataFrame (columns _rb_j: array<array<array<double>>>,
    _rc2_j: array<array<double>> per subspace). Shipping the model as
    DATA instead of literal expression trees matters twice over: F.lit
    per element costs a py4j round trip (36 s to build), and even a
    parsed literal tree is ~40k CreateArray nodes that the analyzer
    RE-WALKS on every chained transformation — a cross-joined 1-row
    frame is one attribute reference. Same doubles either way
    (createDataFrame stores python floats as exact DoubleType)."""
    m, dsub = len(residual_books), len(residual_books[0][0])
    row, fields = [], []
    for j in range(m):
        shifted_j = _shifted_books(centroids, residual_books, j, dsub)
        row.append(
            [[[float(v) for v in c] for c in per_list] for per_list in shifted_j]
        )
        row.append([[_fold_c2(c) for c in per_list] for per_list in shifted_j])
        fields.append(f"_rb_{j} array<array<array<double>>>")
        fields.append(f"_rc2_{j} array<array<double>>")
    return spark.createDataFrame([tuple(row)], ", ".join(fields))


def ivfpq_topk_residual(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    residual_books,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Residual-encoding IVF-PQ (classical IVFADC): corpus vectors are
    PQ-encoded as residuals from their coarse centroid, and ADC scores
    ‖u_q − (cent_l + book_codes)‖² — a strictly finer quantization than
    ivfpq_topk's direct encoding at the same bit budget (the codebooks
    only cover the residual ball around each centroid). Both models are
    required (residual_books from train_residual_codebooks over the same
    centroids); every shape comes from them. Same plan shape: the corpus
    side carries (list_id, m bytes); the query side's distance tables
    are per probed list, computed on the tiny broadcast frame. Recall
    gain vs direct encoding is MEASURED in tests."""
    m, dsub = len(residual_books), len(residual_books[0][0])
    blit = F.broadcast(
        _shifted_books_frame(corpus.sparkSession, centroids, residual_books)
    )
    # the codebook variant of the row's coarse list, picked at runtime
    books = [
        (
            f"element_at(_rb_{j}, CAST(list_id AS INT) + 1)",
            f"element_at(_rc2_{j}, CAST(list_id AS INT) + 1)",
        )
        for j in range(m)
    ]
    c = (
        _vectors(corpus, "vec_id", norm=True)
        .crossJoin(blit)
        .withColumn("list_id", _list_id(F.col("_v"), centroids))
        .select("vec_id", "list_id", _pq_codes(books, dsub))
    )
    # distance tables per (query, probed list) — computed on the tiny
    # broadcast frame BEFORE the corpus join (the pq_topk lesson)
    q = _probed(
        _vectors(queries, "query_id", norm=True).crossJoin(blit),
        "_v",
        centroids,
        n_probe,
        ["query_id", "_v", "_n", *blit.columns],
    ).select("query_id", "list_id", *_pq_tables(books, dsub))
    return _adc_ranked(c.join(F.broadcast(q), "list_id"), m, k)


def ivfpq_residual_oracle_sql(
    centroids,
    residual_books,
    k: int = 5,
    n_probe: int = 4,
    max_query_id: int = 10,
) -> str:
    """DuckDB SQL recomputing ivfpq_topk_residual EXACTLY over the
    `embeddings` table: the SQL replays the given coarse centroids and
    RESIDUAL codebooks, coarse assignment/probing with the ivf formulas
    and the fine ADC against the per-list SHIFTED codebooks (c' =
    cent_l_sub + book_c, exactly _shifted_books' float64 sums).

    Unlike pq/ivfpq's unrolled per-term SQL, the shifted model is
    n_centroids x larger (one codebook variant per list), so the
    literals ship as one 3-level DOUBLE[][][] per subspace in a 1-row
    CTE and the distance lists are built with list_transform +
    list_dot_product — the same left-fold IEEE order (the norm column
    already relies on list_dot_product/aggregate fold parity), keeping
    the SQL ~x00 KB instead of ~MBs of expanded products."""
    import numpy as np  # noqa: PLC0415

    n_centroids = len(centroids)
    m, _, dsub = np.shape(residual_books)
    b_lits, c2_lits = [], []
    for j in range(m):
        shifted_j = _shifted_books(centroids, residual_books, j, dsub)
        b_lits.append(
            "CAST(["
            + ", ".join(
                "[" + ", ".join(
                    "[" + ", ".join(repr(float(v)) for v in c) + "]"
                    for c in per_list
                ) + "]"
                for per_list in shifted_j
            )
            + "] AS DOUBLE[][][])"
        )
        c2_lits.append(
            "CAST(["
            + ", ".join(
                "[" + ", ".join(repr(_fold_c2(c)) for c in per_list) + "]"
                for per_list in shifted_j
            )
            + "] AS DOUBLE[][])"
        )
    blit_cols = ",\n         ".join(
        f"{b_lits[j]} AS b_{j}, {c2_lits[j]} AS c2_{j}" for j in range(m)
    )

    def dist_list(src: str, nsrc: str, list_expr: str, j: int) -> str:
        lo, hi = j * dsub + 1, (j + 1) * dsub
        return (
            f"list_transform(b_{j}[{list_expr} + 1], (c, i) -> "
            f"round(1.0 + c2_{j}[{list_expr} + 1][i] - "
            f"2.0 * list_dot_product({src}[{lo}:{hi}], c) / {nsrc}, 9))"
        )

    ivf_ds = ", ".join(
        "round(list_dot_product(v, ["
        + ", ".join(repr(float(vv)) for vv in c)
        + "]), 9)"
        for c in centroids
    )
    idxs = ", ".join(str(i) for i in range(n_centroids))
    ds_cols = ",\n         ".join(
        f"{dist_list('v', 'n', 'list_id', j)} AS ds_{j}" for j in range(m)
    )
    code_cols = ", ".join(
        f"list_position(ds_{j}, list_min(ds_{j})) - 1 AS c_{j}"
        for j in range(m)
    )
    qt_cols = ",\n         ".join(
        f"{dist_list('qv', 'qn', 'list_id', j)} AS t_{j}" for j in range(m)
    )
    adc = " + ".join(f"qt.t_{j}[enc.c_{j} + 1]" for j in range(m))
    return f"""
WITH blit AS (
  SELECT {blit_cols}
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS n
  FROM embeddings
), dots AS (
  SELECT vec_id, v, n, [{ivf_ds}] AS ds FROM e
), assigned AS (
  SELECT vec_id, v, n,
         {n_centroids} - list_position(list_reverse(ds), list_max(ds))
           AS list_id
  FROM dots
), pqds AS (
  SELECT vec_id, list_id, {ds_cols} FROM assigned CROSS JOIN blit
), enc AS (
  SELECT vec_id, list_id, {code_cols} FROM pqds
), q_probe AS (
  SELECT query_id, qv, qn, i AS list_id
  FROM (SELECT vec_id AS query_id, v AS qv, n AS qn,
               unnest(ds) AS d, unnest([{idxs}]) AS i
        FROM dots WHERE vec_id < {max_query_id})
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d DESC, i DESC)
          <= {n_probe}
), qt AS (
  SELECT query_id, list_id, {qt_cols} FROM q_probe CROSS JOIN blit
), scored AS (
  SELECT qt.query_id, enc.vec_id, round({adc}, 6) AS adc_dist
  FROM enc JOIN qt ON enc.list_id = qt.list_id
                  AND enc.vec_id <> qt.query_id
), ranked AS (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {k}
"""


def recommend_pq_encoding(corpus: DataFrame, centroids) -> dict:
    """The direct-vs-residual selection rule measured in
    BENCH/ANN_RECALL_r05.md, as a one-scan aggregate: residual encoding
    (ivfpq_topk_residual) quantizes the ball of coarse residuals, so it
    beats direct encoding (ivfpq_topk) iff that ball is SMALLER than the
    unit sphere the direct codebooks cover — i.e. iff the mean squared
    residual norm E||u - c_assigned||^2 = E[2 - 2*cos(u, c)] < 1.
    Returns {"mean_residual_sq", "encoding"}. Distributed: one narrow
    scan, a scalar avg; no collect of vectors."""
    scores = _centroid_scores_col(F.col("_v"), centroids)
    row = (
        _vectors(corpus, "vec_id", norm=True)
        .select(
            (
                F.lit(2.0)
                - F.lit(2.0) * F.array_max(scores)["cos"] / F.col("_n")
            ).alias("_r2")
        )
        .agg(F.avg("_r2").alias("mean_residual_sq"))
        .collect()[0]
    )
    r2 = float(row["mean_residual_sq"])
    return {
        "mean_residual_sq": round(r2, 6),
        "encoding": "residual" if r2 < 1.0 else "direct",
    }


def semantic_dedup(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.95,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic near-dup
    pruning: cluster embeddings with spherical k-means, then inside each
    cluster mark as duplicate every item whose cosine to ANY item ordered
    before it is >= threshold. The within-cluster order is
    (centroid-cosine ASC, id ASC), so the kept representative of each
    tight epsilon-group is the one FARTHEST from its centroid — the
    paper's low-centroid-similarity keeper rule (their best-performing
    variant for downstream diversity). The rule is pairwise against all
    earlier items (kept or removed), matching the reference SemDeDup
    implementation — non-cascading, hence order-parallel.

    Returns ALL corpus rows: (vec_id, cluster, ccos, is_dup) where ccos =
    round(cosine(vec, centroid[cluster]), 6); filter `~is_dup` for the
    pruned corpus. `centroids` is the trained model (train_centroids);
    the cluster count is its row count. Cluster assignment reuses the
    shared IVF coarse-assign rule (raw dots rounded to 9dp, ties ->
    highest index) so one centroid model serves both this operator and
    the ANN tiers.

    Scale shape: the only full-data shuffles are the cluster-keyed
    self-join and the dup-id distinct; both move (id, cluster, small)
    rows, with vectors carried only into the pair filter. Per-cluster
    pairing is O(c^2): SemDeDup's own recipe keeps c bounded by scaling
    the cluster count with the corpus (they use ~50k clusters at 10^8 docs, c ~
    2k). For skewed clusterings, max_cluster excludes clusters above the
    cap from pairing entirely (their rows come back is_dup=false — a
    deliberate, observable false-negative, the same philosophy as
    embedding_dup_pairs' bucket cap: a cluster that big IS the finding;
    re-cluster it with more centroids rather than emitting c^2/2
    pairs). None disables the cap.

    The assigned frame feeds both self-join sides and the final join —
    persisted via cache.track_persist (release with release_persisted)."""
    from ..cache import track_persist  # noqa: PLC0415

    cent_lookup = _lit_doubles([list(map(float, c)) for c in centroids])
    a = (
        _vectors(corpus, "vec_id", "vec")
        .withColumn("cluster", _list_id(F.col("vec"), centroids).cast("bigint"))
        .withColumn(
            "ccos",
            F.round(
                cosine_col(
                    F.col("vec"),
                    F.element_at(cent_lookup, F.col("cluster").cast("int") + 1),
                ),
                6,
            ),
        )
    )
    a = track_persist(a)
    eligible = a
    if max_cluster is not None:
        hot = (
            a.groupBy("cluster")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_cluster)
            .select("cluster")
        )
        eligible = a.join(hot, "cluster", "left_anti")
    x = eligible.alias("x")
    y = eligible.alias("y")
    earlier = (F.col("x.ccos") < F.col("y.ccos")) | (
        (F.col("x.ccos") == F.col("y.ccos"))
        & (F.col("x.vec_id") < F.col("y.vec_id"))
    )
    dup_ids = (
        x.join(y, (F.col("x.cluster") == F.col("y.cluster")) & earlier)
        .filter(
            F.round(cosine_col(F.col("x.vec"), F.col("y.vec")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("y.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        a.join(dup_ids.withColumn("_d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "ccos",
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
        )
    )


def semantic_dedup_oracle_sql(
    centroids,
    threshold: float = 0.95,
    max_cluster: int | None = None,
    n_planted: int = 0,
) -> str:
    """DuckDB SQL recomputing semantic_dedup EXACTLY over the `embeddings`
    table: the SQL replays the given centroid model — cluster assignment
    by the coarse-assign rule (round-9 dots, ties -> highest index via
    list_reverse/list_position), centroid cosine and pair cosines both
    rounded to 6 like the other embedding oracles, the (ccos ASC, id ASC)
    earlier-item EXISTS, and the max_cluster HAVING exclusion.
    n_planted > 0 adds the same scaled near-dup rows (vec_id + 100000,
    x * 1.001) the query side plants."""
    n_clusters = len(centroids)
    ds_terms = ", ".join(
        "round(list_dot_product(v, ["
        + ", ".join(repr(float(v)) for v in c)
        + "]), 9)"
        for c in centroids
    )
    cent_rows = ",\n    ".join(
        f"({i}, [" + ", ".join(repr(float(v)) for v in c) + "])"
        for i, c in enumerate(centroids)
    )
    planted = (
        f"""
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001) AS v
  FROM embeddings WHERE vec_id < {n_planted}"""
        if n_planted
        else ""
    )
    cap_cte = (
        f"""eligible AS (
  SELECT a.* FROM scored a
  LEFT JOIN (SELECT cluster FROM scored
             GROUP BY cluster HAVING count(*) > {max_cluster}) h
    ON a.cluster = h.cluster
  WHERE h.cluster IS NULL
)"""
        if max_cluster is not None
        else "eligible AS (SELECT * FROM scored)"
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings{planted}
), cents(idx, cv) AS (
  VALUES
    {cent_rows}
), dots AS (
  SELECT vec_id, v, [{ds_terms}] AS ds FROM base
), assigned AS (
  SELECT vec_id, v,
         CAST({n_clusters} - list_position(list_reverse(ds), list_max(ds))
              AS BIGINT) AS cluster
  FROM dots
), scored AS (
  SELECT a.vec_id, a.v, a.cluster,
         round(list_cosine_similarity(a.v, c.cv), 6) AS ccos
  FROM assigned a JOIN cents c ON c.idx = a.cluster
), {cap_cte},
dups AS (
  SELECT DISTINCT y.vec_id
  FROM eligible x JOIN eligible y
    ON x.cluster = y.cluster
   AND (x.ccos < y.ccos OR (x.ccos = y.ccos AND x.vec_id < y.vec_id))
  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
)
SELECT s.vec_id, s.cluster, s.ccos,
       (d.vec_id IS NOT NULL) AS is_dup
FROM scored s LEFT JOIN dups d ON d.vec_id = s.vec_id
"""
