"""Deduplication suite for training-data pipelines, Spark-first.

Five tiers, cheapest → most semantic:

  exact_dedup          hash-groupBy on a normalized md5 fingerprint; one
                       shuffle on the hash key (never on the text)
  ngram_jaccard_pairs  EXACT near-dup pairs via an inverted-index candidate
                       join on shared shingles (no crossJoin) + true
                       Jaccard filter — the verification tier
  minhash_signatures_pandas / minhash_lsh_pairs
                       MinHash (k affine slots over crc32 n-gram hashes,
                       Arrow/numpy) banded into LSH buckets; candidates
                       are bucket-join pairs — the sub-quadratic scale tier
  simhash_col          64-bit SimHash (token-hash bit votes) — Hamming-
                       proximity fingerprint, pure expressions
  embedding_dup_pairs  cosine near-dup pairs over an embedding column
                       (see similarity.py for the ANN machinery)

All shuffles are on short keys (hashes, shingles, bucket ids); document
payloads never fan out: candidate generation explodes only (id, key) pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config, plan_gates
from ..functions.text import fingerprint_md5_col, tokens_col

MERSENNE31_D = (1 << 31) - 1


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint."""
    keyed = df.withColumn("fp", fingerprint_md5_col(F.col(text_col)))
    return (
        keyed.groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


# --------------------------------------------------------------------------
# shingles / n-gram Jaccard
# --------------------------------------------------------------------------


def shingles_col(text: Column, n: int = 3) -> Column:
    """distinct word n-gram shingles of the normalized text."""
    toks = tokens_col(text)
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array_distinct(F.array(F.array_join(toks, " "))))


def hashed_shingles_col(token_hashes: Column, toks: Column, n: int = 3) -> Column:
    """distinct 64-bit shingle hashes straight from an array of per-token
    xxhash64 values — no n-gram STRINGS are ever built (slicing + joining
    shingle strings costs ~5x the hash-of-n-longs form, A/B-measured 3.9 s
    vs 0.8 s for the inverted-index scan at sf0.1). Set size and overlap
    counts equal the string-shingle sets unless two distinct shingles of
    one doc collide in 64 bits (~#shingles²/2^65 — negligible, same
    accepted risk as hashing the strings)."""
    k = F.size(token_hashes) - (n - 1)
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.xxhash64(
                    *[F.try_element_at(token_hashes, i + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array(F.xxhash64(F.array_join(toks, " "))))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = 256,
) -> DataFrame:
    """EXACT near-dup pairs (a < b) with Jaccard >= threshold over word
    n-gram shingle sets. Candidates via inverted index on shingles —
    only ids+shingle keys shuffle, pairs dedup via groupBy.

    max_df — document-frequency cap: a shingle present in k docs emits
    k(k-1)/2 candidate rows from the self-join, so one boilerplate shingle
    with k=10^6 is a 10^12-row join output. Shingles with df > max_df carry
    ~no Jaccard signal and are dropped from BOTH sets before pairing; the
    Jaccard is then exact over the capped shingle sets (the hot set is tiny
    by construction and broadcast for the anti-join). max_df=None disables
    the cap (fully exact, unsafe on corpora with hot shingles)."""
    toks = tokens_col(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
        toks.alias("_tk"),
    )
    # shuffle 8-byte shingle hashes, never shingle strings (and never BUILD
    # the strings either — see hashed_shingles_col). explode_outer, not
    # explode: a plain explode's inferred size>0/isnotnull filter gets
    # pushed past the _th/_tk projection with the whole shingle expression
    # re-inlined TWICE, and each copy re-evaluates the token-hash
    # transform inside every try_element_at — O(shingles × tokens)/doc
    # (the Generate-filter trap; measured 10x on the decontamination op).
    # The shingle array is never null/empty (<n-token docs emit a
    # 1-element array), so rows are identical.
    inv = base.select(
        "id",
        F.explode_outer(
            hashed_shingles_col(F.col("_th"), F.col("_tk"), n)
        ).alias("tok"),
    )
    # the inverted index feeds the df pre-pass, both self-join sides, and
    # the set-size aggregation — persist so tokenize+hash runs once
    # (production materializes this as a table; MEMORY_AND_DISK spills).
    # Tracked: callers release via bb_ocr_spark.cache.release_persisted()
    from ..cache import track_persist  # noqa: PLC0415

    inv = track_persist(inv)
    if max_df is not None:
        hot = (
            inv.groupBy("tok")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("tok")
        )
        # no broadcast HINT: the hot set is tiny on real corpora
        # (<= |occurrences|/max_df entries), and AQE broadcasts it
        # automatically when under threshold — a forced hint would OOM the
        # driver on a pathological corpus with billions of hot shingles
        #
        # persist the CAPPED index too: it feeds both self-join sides and
        # the set-size aggregation, and without its own cache each
        # consumer re-runs the df census + anti-join from the raw cache
        # (the round-5 plan executed the census 4x per run)
        inv = track_persist(inv.join(hot, "tok", "left_anti"))
    # set sizes over the (possibly capped) sets so the ratio stays a true
    # Jaccard over exactly the sets being intersected; persisted because
    # it is broadcast-built twice (id_a side, id_b side)
    sized = track_persist(inv.groupBy("id").agg(F.count("*").alias("n_sh")))
    # candidate counting is the hot path at scale (one row per shared
    # shingle per pair: 127M rows / 114M distinct pairs at the 50k-doc
    # bench corpus — nearly every pair shares exactly one shingle, so
    # both aggregation hash maps hold ~every pair). Two exact shapings,
    # each measured on that corpus:
    #   1. PACKED PAIR KEY — when ids provably fit in 31 bits (id range
    #      fetched in the combined scalar job below), group on the single
    #      long (id_a << 32) | id_b instead of the two-long pair: halves
    #      the aggregation key in both hash maps and the partial-agg
    #      shuffle row. Falls back to the two-key groupBy for wider ids
    #      (identical output either way).
    #   2. MIN-SIZE PRE-FILTER (guide §2.3 "shuffle fewer bytes" applied
    #      to join probes) — jaccard >= t means s >= t*(n_a+n_b-s), and
    #      n_a+n_b >= 2m for m = the corpus-min set size, so
    #      s >= t*(2m-s) is a necessary condition (multiplication form:
    #      when 2m-s <= 0 the RHS is <= 0 and the row is kept, so the
    #      global min never over-prunes a pair of larger docs). A +1
    #      count slack absorbs any division-vs-multiplication double
    #      rounding at the exact boundary; the exact jaccard filter
    #      still runs afterward. This drops the ~113.9M singleton pairs
    #      BEFORE the two n_a/n_b hash joins ever probe them.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    # ONE combined driver-scalar job over the persisted set-size frame
    # (it doubles as the inv/sized cache warm-up): the corpus-min set
    # size for the count bounds AND the id range for the packed-key
    # decision. Only ids with >= 1 shingle can appear in a pair, and
    # those are exactly sized's ids, so bounding the id range over sized
    # is equivalent to bounding it over the input — and saves the
    # separate full-input min/max scan (a scan + fanout + job that cost
    # ~0.3-0.5 s of pure fixed overhead per call at bench scales).
    pack = False
    min_n = None
    if isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        _row = sized.agg(
            F.min("n_sh"),
            F.min(F.col("id").cast("long")),
            F.max(F.col("id").cast("long")),
        ).first()
        if _row is not None:
            min_n, _lo, _hi = _row[0], _row[1], _row[2]
            pack = _lo is not None and _lo >= 0 and _hi is not None and _hi < (1 << 31)
    else:
        _row = sized.agg(F.min("n_sh")).first()
        min_n = _row[0] if _row is not None else None
    if pack:
        pairs = (
            inv.alias("a")
            .join(inv.alias("b"), "tok")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.shiftleft(F.col("a.id").cast("long"), 32)
                .bitwiseOR(F.col("b.id").cast("long"))
                .alias("_pid")
            )
            .groupBy("_pid")
            .agg(F.count("*").alias("n_shared"))
        )
    else:
        pairs = (
            inv.alias("a")
            .join(inv.alias("b"), "tok")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("n_shared"))
        )
    # the corpus-min set size was fetched above as a driver-side scalar
    # so the bound is a literal Filter, not a 1-row-frame join the
    # planner would turn into a nested-loop join
    if min_n is not None:
        pairs = pairs.filter(
            (F.col("n_shared") + 1).cast("double")
            >= F.lit(threshold)
            * (F.lit(2 * int(min_n)) - F.col("n_shared")).cast("double")
        )
    if pack:
        _idt = df.schema[id_col].dataType.simpleString()
        pairs = pairs.select(
            F.shiftright(F.col("_pid"), 32).cast(_idt).alias("id_a"),
            F.col("_pid")
            .bitwiseAND(F.lit((1 << 32) - 1))
            .cast(_idt)
            .alias("id_b"),
            "n_shared",
        )
    else:
        pairs = pairs.select("id_a", "id_b", "n_shared")
    # filter on the UNROUNDED ratio (rounding first would admit pairs the
    # oracle rejects, e.g. 0.0499996 -> 0.05); round only for display
    jacc = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    out = pairs.join(
        sized.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"),
        "id_a",
    )
    if min_n is not None:
        # per-side bound once n_a is known: jaccard >= t needs
        # s >= t*(n_a + n_b - s) and n_b >= corpus-min, so pairs failing
        # s+1 >= t*(n_a + min_n - s) (the +1 again absorbs double
        # rounding) can be dropped BEFORE the second hash join — with
        # ~43-shingle docs this prunes the share-one-shingle majority
        out = out.filter(
            (F.col("n_shared") + 1).cast("double")
            >= F.lit(threshold)
            * (
                F.col("n_a") + F.lit(int(min_n)) - F.col("n_shared")
            ).cast("double")
        )
    out = (
        out.join(sized.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .filter(jacc >= threshold)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )
    return out


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures_pandas(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) via mapInPandas: per-TOKEN crc32
    combined into n-gram hashes by a vectorized wrapping-int64 polynomial
    (shingle strings are never built — building + hashing ~250 trigram
    strings per doc was the dominant cost), then all k slots as one
    (shingles × k) affine mod, min((a_i*h + b_i) mod 2^31-1) per slot.
    Measured 6x faster than the same slots as JVM expressions, where the
    64 interpreted affine ops per shingle dominated. Deterministic at any
    parallelism."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    import random  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    rng = random.Random(f"minhash:{config.SEED}")
    a = np.array([rng.randrange(1, 1 << 20) for _ in range(num_hashes)], dtype=np.int64)
    b = np.array([rng.randrange(0, MERSENNE31_D) for _ in range(num_hashes)], dtype=np.int64)
    # odd multipliers -> bijective mixing per position under mod 2^64
    # (wrapping int64 powers, then force odd)
    with np.errstate(over="ignore"):
        coef = np.ones(n, dtype=np.int64)
        for j in range(1, n):
            coef[j] = coef[j - 1] * np.int64(1000003)
        coef = coef | np.int64(1)

    def run(batches):
        with np.errstate(over="ignore"):
            for pdf in batches:
                ids, sigs = [], []
                for did, text in zip(pdf[id_col], pdf[text_col]):
                    toks = str(text).lower().split()
                    if len(toks) < n:
                        hs = np.array(
                            [zlib.crc32(" ".join(toks).encode())], dtype=np.int64
                        )
                    else:
                        t = np.array(
                            [zlib.crc32(w.encode()) for w in toks], dtype=np.int64
                        )
                        m = len(t) - n + 1
                        comb = np.zeros(m, dtype=np.int64)
                        for j in range(n):
                            comb = comb + t[j : j + m] * coef[j]
                        hs = np.unique(comb)
                    hs = hs % (1 << 31)
                    sig = ((hs[:, None] * a[None, :] + b[None, :]) % MERSENNE31_D).min(axis=0)
                    ids.append(did)
                    sigs.append([int(x) for x in sig])
                yield pd.DataFrame({"id": ids, "sig": sigs})

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        run, schema=f"id {id_type}, sig array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Candidate pairs (a < b) whose signatures collide in >= 1 LSH band,
    with the estimated Jaccard (signature agreement rate). rows = bands
    r = num_hashes/bands; collision prob = 1-(1-j^r)^b.

    max_bucket — bucket-size cap: a degenerate bucket with k members (e.g.
    empty-text docs sharing a signature) emits k(k-1)/2 pairs from the
    self-join; buckets larger than max_bucket are dropped before pairing
    (the hot-bucket set is tiny and broadcast). A real near-dup CLUSTER of
    size > max_bucket keeps its pairs only through its other bands, so size
    the cap above the largest expected dup cluster. None disables."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signatures_pandas(df, num_hashes, n, id_col, text_col)
    # the plan references the signature stage up to 4x (bucket-size
    # pre-pass, both self-join sides) and Spark cannot CSE across
    # self-joins — persist so the (expensive) signature computation runs
    # once; production pipelines materialize signatures as a table for the
    # same reason, MEMORY_AND_DISK spills rather than OOMs at scale.
    # Tracked: callers release via bb_ocr_spark.cache.release_persisted()
    from ..cache import track_persist  # noqa: PLC0415

    sigs = track_persist(sigs)
    # bucket id = xxhash64 of the band index + the band's r slot LONGS —
    # no per-band string building (concat_ws of slot strings cost ~2x)
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b), *[F.col("sig")[b * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket)
            .select("band", "bucket")
        )
        # AQE broadcasts the (tiny) hot set when safe; no forced hint
        banded = banded.join(hot, ["band", "bucket"], "left_anti")
    # estimate BEFORE the pair dedup so the dedup shuffle moves
    # (id, id, double) rows, not two 64-slot signature arrays per row
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(num_hashes),
        6,
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
    )
    # explicit numbered repartition on the dedup key, SIZE-GATED: on a
    # large corpus the pair rows are tiny in bytes, so AQE coalesces the
    # dedup exchange down to 1-4 tasks (worse under zstd, which shrinks
    # the bytes further) and serializes both the dedup and everything
    # downstream — pinning it wide won 7.0→5.1 s at the 50k-doc bench
    # scale; a REPARTITION_BY_NUM exchange is exempt from coalescing and
    # already satisfies the aggregation's distribution, so no exchange
    # is added. On a SMALL corpus the pin is pure overhead (a 32-wide
    # shuffle + 32-task stages over a candidate set AQE would rightly
    # run in a few tasks: +2.5 s measured at 1/10th bench scale), so pin
    # only when the corpus size estimate says the candidate volume can
    # starve cores. Results are partitioning-invariant either way.
    if not plan_gates.is_small(df, plan_gates.MINHASH_PIN_BYTES, "minhash_pin"):
        cand = cand.repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
    return cand.dropDuplicates(["id_a", "id_b"])


def minhash_lsh_verified_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 1024,
) -> DataFrame:
    """LSH candidates re-verified against the TRUE shingle Jaccard: pairs
    (a < b) that collide in >= 1 band AND have exact Jaccard >= threshold.

    This is the production near-dup shape (sub-quadratic candidate
    generation, exact verification of the tiny candidate set) and it is
    oracle-checkable: if LSH recall at `threshold` is 1.0 on a corpus, the
    output equals the full exact-Jaccard pair set, which ANSI SQL can
    recompute without knowing the seeded hash family. With r = num_hashes /
    bands rows per band, a true pair at jaccard j is missed with prob
    (1-j^r)^bands — r=2, bands=32 at j=0.5 → 0.75^32 ≈ 1e-4 per pair, and
    the check is deterministic for a fixed corpus + seed."""
    cand = minhash_lsh_pairs(
        df, num_hashes, bands, n, id_col, text_col, max_bucket
    ).select("id_a", "id_b")
    # candidate generation pins its own dedup exchange wide (see
    # minhash_lsh_pairs), so the verification joins inherit a 32-wide
    # candidate side — each candidate row pays an array_intersect over
    # two full shingle sets, so parallelism here is compute-critical
    toks = tokens_col(F.col(text_col))
    hs = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
        toks.alias("_tk"),
    ).select("id", hashed_shingles_col(F.col("_th"), F.col("_tk"), n).alias("hs"))
    j = cand.join(
        plan_gates.broadcast_if_small(
            df, hs.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
        ),
        "id_a",
    ).join(
        plan_gates.broadcast_if_small(
            df, hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    jacc = inter.cast("double") / union
    return j.filter(jacc >= threshold).select(
        "id_a", "id_b", F.round(jacc, 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# paragraph-level exact dedup (RefinedWeb/C4-style)
# --------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    salt_threshold: int = config.BIG_DOC_SPAN_THRESHOLD,
    salt_buckets: int = config.ASSEMBLY_SALT_BUCKETS,
) -> DataFrame:
    """Corpus-wide paragraph dedup: each exact paragraph (normalized:
    trimmed, ws-squeezed) survives only at its FIRST occurrence — min
    (doc_id, position) over every occurrence corpus-wide, which also
    drops within-doc repeats — and each document is rebuilt from its kept
    paragraphs in original order.

    Scale shape: explode → aggregate winners on the 8-byte paragraph HASH
    (text never shuffles for the winner pass) → hash-join back → rebuild
    per doc. The rebuild is the same single salted two-phase as
    assemble.assemble_spans: a mega-doc with 10^6 paragraphs would make
    one collect_list reducer the straggler/OOM, so docs over
    salt_threshold paragraphs aggregate per (id, pos % salt_buckets),
    every other doc per (id, 0), and phase 2 flattens and sorts per id.
    One aggregation instead of a small/big union means the split,
    explode, normalize and winners join run once, not once per branch;
    small docs' sub-arrays cross the second shuffle in exchange. The salt
    decision is row-local: n_paras is folded into each row at explode
    time from the materialized split array (a separate size() projection
    would be collapsed past the Generate and every exploded row would
    carry the whole array — the O(n²) Generate-carry trap).

    Returns (id, text_dedup, n_kept, n_dropped)."""
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), sep).alias("_arr")
    )
    with_n = F.transform(
        "_arr",
        lambda p, i: F.struct(
            i.cast("int").alias("pos"),
            p.alias("para"),
            F.size("_arr").alias("n_paras"),
        ),
    )
    paras = (
        # inline_outer: a plain inline's inferred filter re-embeds the
        # struct-building transform per row (Generate-filter trap); the
        # null row an outer generate emits for a null text is dropped by
        # the para != '' filter below
        base.select("id", F.inline_outer(with_n))
        .withColumn("para", F.regexp_replace(F.trim("para"), r"\s+", " "))
        .filter(F.col("para") != "")
        .withColumn("fp", F.xxhash64("para"))
    )
    winners = paras.groupBy("fp").agg(
        F.min(F.struct("id", "pos")).alias("w")
    )
    kept = paras.join(winners, "fp").withColumn(
        "keep", (F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos"))
    )
    kept_struct = F.when(F.col("keep"), F.struct("pos", "para"))
    salt = F.when(
        F.col("n_paras") > salt_threshold, F.pmod("pos", F.lit(salt_buckets))
    ).otherwise(0)
    phase1 = kept.groupBy("id", salt.alias("salt")).agg(
        F.collect_list(kept_struct).alias("part"),
        F.sum(F.col("keep").cast("long")).alias("k1"),
        F.sum((~F.col("keep")).cast("long")).alias("d1"),
    )
    rebuilt = phase1.groupBy("id").agg(
        # ONE global per-doc sort — order correctness under salting
        F.array_sort(F.flatten(F.collect_list("part"))).alias("ps"),
        F.sum("k1").alias("n_kept"),
        F.sum("d1").alias("n_dropped"),
    )
    return rebuilt.select(
        "id",
        F.array_join(F.transform("ps", lambda p: p["para"]), sep).alias(
            "text_dedup"
        ),
        "n_kept",
        "n_dropped",
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_col(text: Column, bits: int = 63) -> Column:
    """SimHash fingerprint: per-token xxhash64, majority vote per bit,
    via the single-aggregate counter core (_simhash_from_hashes) — the
    token-hash transform appears ONCE in the counts pass instead of once
    per bit (the round-1 63-duplicated-subtree pitfall). 63 bits max:
    the sign bit stays 0. Prefer simhash_md5_df when a SQL oracle must
    reproduce the value."""
    toks = tokens_col(text)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_from_hashes(hashes, F.size(toks), min(bits, 63))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_from_hashes(hashes: Column, n: Column, bits: int) -> Column:
    """Majority-vote SimHash given a materialized array of token hashes.

    One aggregate pass with a `bits`-wide counter array (bit tested by
    mask AND, masks a literal array) instead of `bits` separate filter
    passes over the hash array — 2.5 s -> 1.6 s at sf0.1, bit-identical.
    The majority vote then folds the same mask array back into the
    fingerprint."""
    masks = F.lit([1 << i for i in range(bits)])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c * 2 >= n, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def simhash_md5_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """(id, simhash) with the token-hash family = first 15 hex chars of
    md5(token) as a 60-bit integer — md5 is identical in Spark and ANSI
    SQL engines, so unlike the seeded-xxhash64 variant this fingerprint is
    exactly reproducible by a SQL oracle (see __spark_entry__.simhash).

    The token-hash array is materialized as its own projection first:
    expression trees are duplicated at construction time (no CSE across
    HOF lambdas), so embedding the md5 transform in all `bits` vote
    expressions would evaluate it `bits` times per doc."""
    assert bits <= 60  # 15 hex chars
    toks = tokens_col(F.col(text_col))
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    hdf = df.select(F.col(id_col).alias(id_col), hs.alias("_hs"))
    out = _simhash_from_hashes(F.col("_hs"), F.size("_hs"), bits)
    return hdf.select(id_col, out.alias("simhash"))


def simhash_md5_oracle_sql(table: str = "documents", bits: int = 60) -> str:
    """DuckDB SQL recomputing simhash_md5_df exactly (generated: 60 bit
    votes over md5-derived token hashes; hex→int via positional digit
    weights since DuckDB lacks a hex-string→integer cast)."""
    digit_terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(t), {p + 1}, 1)) - 1) * "
        f"{16 ** (14 - p)}"
        for p in range(15)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {i}) & 1) = 1)) "
        f">= len(hs) THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM {table}
), hashed AS (
  SELECT doc_id, list_transform(toks, t -> {digit_terms}) AS hs FROM base
)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM hashed
"""


# --------------------------------------------------------------------------
# near-dup cluster resolution (connected components over pair output)
# --------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in >= 1 pair; cluster_id =
    the MIN id of the connected component. Pair generators (ngram/minhash/
    simhash/embedding) emit edges; real dedup needs the transitive closure
    — A~B and B~C must collapse into ONE surviving doc even when A~C was
    never emitted (RefinedWeb/SlimPajama resolve clusters the same way).
    Pick winners by joining cluster_id == id (or any argmin per cluster).

    Algorithm: per round every vertex takes min(own label, neighbors'
    labels) — then a POINTER-JUMPING step (label ← label[label]) halves
    the remaining propagation distance, so convergence is O(log diameter)
    rounds: max_iter=20 covers diameters up to ~2^20, far past any real
    graph. LSH dup clusters are near-cliques (1-2 rounds). Per round: one
    join edges⋈labels + one groupBy min + one labels self-join — all
    shuffles on (id, label) longs, never payloads. Deterministic for any
    parallelism. Raises RuntimeError if max_iter is exhausted before
    convergence — a silently-partial clustering would merge fewer docs
    than claimed.

    Fixed-overhead discipline (the per-round cost is ~all job latency at
    small SF, so every saved job/shuffle halves the wall clock):
      - edges are hash-repartitioned ONCE on the join key "v" and
        persisted; the cached relation's outputPartitioning satisfies the
        per-round join's distribution requirement, so only the (much
        smaller, changing) labels side exchanges each round;
      - the convergence check rides along with the round: the previous
        label is CARRIED as a column through relax+jump and the changed
        count is an observe() metric on the checkpoint materialization
        itself — ZERO extra jobs per round (fires on both localCheckpoint
        and reliable checkpoint, verified by test).

    Each round's label frame is checkpointed: without lineage truncation
    the self-join DOUBLES the logical plan per round and re-optimization
    cost grows exponentially (measured: the test file went 131s → timeout
    from plan growth alone, data unchanged). Superseded rounds' blocks
    are reclaimed by the ContextCleaner once the python reference drops;
    worst-case transient storage is the GC-latency window, not O(rounds).

    checkpoint_dir: when set, rounds use RELIABLE checkpoint() into that
    directory (call spark.sparkContext.setCheckpointDir first or let this
    function set it). localCheckpoint (the default) stores checkpoint
    blocks on executors and DIES with one — on a real multi-executor
    cluster always pass a checkpoint_dir on shared storage."""
    from ..cache import track_persist  # noqa: PLC0415

    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir is not None
            else df.localCheckpoint(eager=True)
        )

    half = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = track_persist(
        half.unionByName(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .repartition("v")
    )
    # materialize the edge cache and take its size: on a SMALL graph the
    # loop's per-round wall is ~all AQE overhead (each round = ~6
    # stage-jobs, each re-optimized and separately scheduled) — A/B at
    # sf1.0, identical hash: 18.5 s with AQE vs 8.7-12.4 s without. A
    # big graph keeps AQE for its skew handling (a giant component's
    # root label is a hot join key).
    n_edges = edges.count()
    aqe_off = n_edges < plan_gates.CLUSTER_AQE_OFF_EDGES
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    labels = ckpt(
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    if aqe_off:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labels = _cluster_loop(edges, labels, max_iter, ckpt)
    finally:
        if aqe_off:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    out = labels.select("id", F.col("label").alias("cluster_id"))
    return out


def _cluster_loop(edges, labels, max_iter, ckpt):
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("v"), F.col("label").alias("nl")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("nl").alias("mn"))
            .select(F.col("u").alias("id"), "mn")
        )
        relaxed = labels.join(neigh, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("mn", "label")).alias("label"),
            F.col("label").alias("_old"),
        )
        # persist: the self-join below references relaxed on BOTH sides
        # and Spark cannot CSE across self-joins — without this the
        # edges⋈labels + groupBy-min subplan executes twice per round
        relaxed = relaxed.persist()
        # pointer jumping: label ← min(label, label's own label). The
        # label graph is a forest pointing toward smaller ids, so this
        # halves the remaining distance to the root each round.
        jumped = relaxed.join(
            relaxed.select(
                F.col("id").alias("label"), F.col("label").alias("_ll")
            ),
            "label",
            "left",
        ).select(
            "id",
            F.least(F.col("label"), F.coalesce("_ll", "label")).alias("label"),
            "_old",
        )
        from pyspark.sql import Observation  # noqa: PLC0415

        obs = Observation()
        observed = jumped.observe(
            obs,
            F.sum((F.col("label") != F.col("_old")).cast("long")).alias(
                "changed"
            ),
        )
        new_labels = ckpt(observed)  # truncate lineage; fires the metric
        relaxed.unpersist()
        changed = obs.get["changed"] or 0
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            "(component diameter > ~2^max_iter?) — raise max_iter"
        )
    return labels


# --------------------------------------------------------------------------
# substring-level dedup (token k-gram granularity)
# --------------------------------------------------------------------------


def _gram_occurrences_expr(
    base: DataFrame, k: int
) -> DataFrame:
    """(id, _tk) → (id, pos, g): one row per token k-gram occurrence, with
    pos the 1-based start token index and g a 64-bit gram hash
    (xxhash64 over the k per-token xxhash64 values — no gram STRINGS are
    ever built, the hashed_shingles_col discipline). Docs shorter than k
    tokens emit no rows. Pure expressions: O(k) per gram, the right
    choice for small k; see _gram_occurrences_rolling for large k."""
    hashed = base.select(
        "id", F.transform(F.col("_tk"), lambda t: F.xxhash64(t)).alias("_th")
    )
    n_gr = F.size(F.col("_th")) - (k - 1)
    grams = F.when(
        n_gr >= 1,
        F.transform(
            F.sequence(F.lit(1), n_gr),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.xxhash64(
                    *[F.try_element_at(F.col("_th"), i + j) for j in range(k)]
                ).alias("g"),
            ),
        ),
    )
    # explode_outer, never explode: a plain explode of a COMPUTED array
    # gets an inferred size>0/isnotnull filter pushed past the projection
    # with the generator expression re-inlined twice (the Generate-filter
    # trap, measured 10-33x elsewhere in this module). Short docs yield a
    # null row, dropped by the cheap post-filter on the GENERATED column.
    occ = hashed.select("id", F.explode_outer(grams).alias("o")).filter(
        F.col("o").isNotNull()
    )
    return occ.select("id", F.col("o.pos").alias("pos"), F.col("o.g").alias("g"))


def _gram_occurrences_rolling(base: DataFrame, k: int) -> DataFrame:
    """Arrow-batched rolling-hash variant of _gram_occurrences_expr: O(1)
    per gram after an O(n) prefix pass, the scale path when k is large
    (Lee et al. use k=50 — the expression form costs O(k) per token there).

    Per doc: 64-bit token hashes h_i (siphash via pd.util.hash_array,
    C-vectorized), wrapping-mod-2^64 polynomial prefix Q_i = sum
    h_j * B^-j, gram(s..s+k-1) = (Q_{s+k-1} - Q_{s-2}) * B^{s+k-2}; all
    numpy uint64 (unsigned wraps ARE mod-2^64 arithmetic). Hash values
    differ from the expr path by construction — only gram EQUALITY
    matters, and both are collision-negligible at 64 bits per token
    (an earlier crc32 variant was NOT: 32-bit per-token collisions are
    certain past ~10^5 distinct tokens, and two colliding tokens make
    distinct k-grams compare equal — a spurious removal the expr path's
    per-token xxhash64 would never produce). No per-token python work
    remains; the polynomial algebra is vectorized."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    id_type = dict(base.dtypes)["id"]
    B = np.uint64(0x9E3779B97F4A7C15)  # odd ⇒ invertible mod 2^64
    BINV = np.uint64(pow(int(B), -1, 1 << 64))

    def gen(batches):
        for pdf in batches:
            ids, poss, gs = [], [], []
            for id_, toks in zip(pdf["id"], pdf["_tk"]):
                n = len(toks)
                if n < k:
                    continue
                h = pd.util.hash_array(np.asarray(toks, dtype=object))
                binv_pow = np.cumprod(np.full(n, BINV, dtype=np.uint64))
                b_pow = np.cumprod(np.full(n, B, dtype=np.uint64))
                # Q[j] = sum_{m<=j} h[m]·Binv^{m+1} (wraps = mod 2^64), so
                # gram at 0-based s = (Q[s+k-1] - Q[s-1]) · B^{s+k}
                # (Q[-1] = 0); b_pow[j] = B^{j+1} ⇒ B^{s+k} = b_pow[s+k-1]
                q = np.cumsum(h * binv_pow)
                diff = q[k - 1 :] - np.concatenate(
                    (np.zeros(1, dtype=np.uint64), q[: n - k])
                )
                g = diff * b_pow[k - 1 :]
                ids.extend([id_] * (n - k + 1))
                poss.extend(range(1, n - k + 2))
                gs.append(g.astype(np.int64))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids),
                    "pos": pd.Series(poss, dtype="int32"),
                    "g": np.concatenate(gs)
                    if gs
                    else np.empty(0, dtype=np.int64),
                }
            )

    return base.mapInPandas(gen, schema=f"id {id_type}, pos int, g long")


def substring_dedup(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "expr",
) -> DataFrame:
    """Corpus-wide exact substring dedup at token k-gram granularity —
    the Lee et al. ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr pass re-expressed Spark-first: any run of k
    consecutive tokens occurring >= 2 times corpus-wide (across OR within
    documents) is removed from every occurrence except the globally first
    (minimum (doc_id, position)); covered token positions merge into
    maximal runs. This is the granularity between paragraph_dedup (exact
    repeated paragraphs) and ngram_jaccard/minhash (whole-doc near-dup):
    it excises repeated boilerplate EMBEDDED in otherwise-unique docs.

    Returns one row per input doc:
      (id_col, n_tokens, n_dup_tokens, n_dup_runs, text_dedup)
    with text_dedup the surviving tokens joined by single spaces.

    Scale shape: the occurrence inventory is O(total tokens) rows of
    (id, pos, 8-byte gram hash) — the only shuffles are the groupBy on the
    gram hash (linear, map-side combinable) and the join back, both on
    8-byte keys; document text never fans out. No pair join exists
    anywhere, so no df cap is needed (a banner shared by 10^6 docs is
    just 10^6 occurrence rows). The per-doc finish is O(n_tokens ×
    n_runs) expression work; runs are few on real corpora (a fully-
    duplicated doc collapses to ONE run).

    method="expr" (default): JVM-side gram hashing, O(k) per gram.
    method="rolling": Arrow mapInPandas rolling hash, O(1) per gram —
    use for Lee-et-al-scale k (~50). Both produce identical REMOVAL
    decisions (gram equality, not hash values, drives the rule);
    asserted by test_substring_dedup.
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..functions.text import tokens_col  # noqa: PLC0415

    base = df.select(F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_tk"))
    # referenced by the occurrence branch AND the final join-back: no CSE
    # across self-referencing plans, so persist or tokenize twice
    base = track_persist(base)
    occ = (
        _gram_occurrences_rolling(base, k)
        if method == "rolling"
        else _gram_occurrences_expr(base, k)
    )
    flagged = _flagged_batch_occurrences(occ)
    return _excise_flagged_starts(base, flagged, k, id_col)


def _flagged_batch_occurrences(occ: DataFrame) -> DataFrame:
    """(id, pos) of every gram occurrence to remove under the WITHIN-
    corpus rule: grams occurring >= 2 times lose every occurrence except
    the globally first (minimum (id, pos))."""
    stats = (
        occ.groupBy("g")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("id", "pos")).alias("keep"),
        )
        .filter(F.col("cnt") >= 2)
        .select("g", "keep")
    )
    return (
        occ.join(stats, "g")
        .filter(
            ~(
                (F.col("id") == F.col("keep.id"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select("id", "pos")
    )


def _excise_flagged_starts(
    base: DataFrame, flagged: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Merge flagged k-gram start positions into maximal covered runs and
    rebuild each doc's surviving text by slicing the gaps between runs —
    the shared finish of substring_dedup and its incremental variant."""
    starts = flagged.groupBy("id").agg(
        F.array_sort(F.collect_list("pos")).alias("_ss")
    )
    ss = F.coalesce(F.col("_ss"), F.array().cast("array<int>"))
    # merge flagged starts into maximal covered runs, then rebuild the
    # kept tokens by SLICING THE GAPS between runs — O(n_runs) slices per
    # doc, never a per-token membership test (an exists-over-runs filter
    # per token re-evaluated the whole run derivation inside the lambda:
    # CollapseProject inlines aliases into lambda bodies, measured 68 s →
    # 4 s on the 25k-doc soak). Sentinels avoid 0/size+1 indexing: a
    # start opens a new run iff it exceeds the previous start by more
    # than k (equal-length intervals ⇒ ends are monotone), and closes
    # one iff the next start exceeds IT by more than k; merged runs are
    # separated by >= 1 kept token by construction, and every gap slice
    # has non-negative length.
    lo_sentinel = F.array(F.lit(-(k + 2)).cast("int"))
    hi_sentinel = F.array(F.lit((1 << 31) - 1).cast("int"))
    with_prev = F.concat(lo_sentinel, ss)
    with_next = F.concat(ss, hi_sentinel)
    run_starts = F.filter(
        ss, lambda s, i: s - F.element_at(with_prev, i + 1) > k
    )
    run_lasts = F.filter(
        ss, lambda s, i: F.element_at(with_next, i + 2) - s > k
    )
    runs = F.arrays_zip(
        run_starts.alias("s"),
        F.transform(run_lasts, lambda s: s + (k - 1)).alias("e"),
    )
    out = base.join(starts, "id", "left").select(
        "id",
        F.col("_tk"),
        runs.alias("_runs"),
    )
    n = F.size("_tk")
    nr = F.size("_runs")
    # gap i (0-based, nr+1 gaps): tokens strictly between run i-1's end
    # and run i's start (doc edges as virtual runs)
    gap_start = lambda i: F.when(  # noqa: E731
        i == 0, F.lit(1)
    ).otherwise(F.try_element_at(F.col("_runs"), i)["e"] + 1)
    gap_end = lambda i: F.when(  # noqa: E731
        i == nr, n
    ).otherwise(F.try_element_at(F.col("_runs"), i + 1)["s"] - 1)
    kept = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nr),
            lambda i: F.slice(
                F.col("_tk"),
                gap_start(i),
                F.greatest(gap_end(i) - gap_start(i) + 1, F.lit(0)),
            ),
        )
    )
    with_kept = out.select("id", "_tk", "_runs", kept.alias("_kept"))
    return with_kept.select(
        F.col("id").alias(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size("_kept")).cast("long").alias("n_dup_tokens"),
        F.size("_runs").cast("long").alias("n_dup_runs"),
        F.array_join("_kept", " ").alias("text_dedup"),
    )


def substring_dedup_incremental(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "expr",
    seen_grams: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """substring_dedup against ACCUMULATED cross-delivery gram state: a
    k-gram is excised from this batch if it already occurs in
    `seen_grams` (one column `g` of committed 8-byte gram hashes from
    prior deliveries — EVERY batch occurrence goes, the keeper lives in
    an earlier delivery) or occurs >= 2 times within the batch (batch
    rule: the batch-first occurrence survives).

    Returns (result, gram_occurrences): `result` has substring_dedup's
    schema; `gram_occurrences` is this batch's (id, g) inventory over
    the ORIGINAL text, for committing to state after the run's docs
    commit (original-text grams, not post-excision ones — the batch rule
    counts occurrences over originals, and an excised gram's keeper is
    already in state, so a redundant state row is harmless while a
    MISSING one would let the duplicate text back in next delivery).

    Keeper semantics across deliveries are first-ARRIVED, then
    min (id, pos) within a delivery — the natural incremental order; a
    from-scratch batch pass over the union could instead pick a
    later-delivered doc with a smaller id as keeper. Scale shape is
    substring_dedup's (no pair join; token-linear inventory) plus one
    semi-join of the inventory against the state on the 8-byte gram key
    — with the state in a table bucketed on `g`, the state side of that
    join is Exchange-free (see plans.curate_incremental)."""
    from ..cache import track_persist  # noqa: PLC0415
    from ..functions.text import tokens_col  # noqa: PLC0415

    base = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_tk")
    )
    base = track_persist(base)
    occ = (
        _gram_occurrences_rolling(base, k)
        if method == "rolling"
        else _gram_occurrences_expr(base, k)
    )
    # occ feeds the within-batch stats, the state semi-join, and the
    # returned inventory — persist or re-derive grams three times
    occ = track_persist(occ)
    flagged = _flagged_batch_occurrences(occ)
    if seen_grams is not None:
        flagged = flagged.unionByName(
            occ.join(seen_grams.select("g"), "g", "left_semi").select(
                "id", "pos"
            )
        ).distinct()
    result = _excise_flagged_starts(base, flagged, k, id_col)
    return result, occ.select("id", "g")


def top_repeated_kgrams(
    df: DataFrame,
    k: int = 8,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus boilerplate mining: the top_n most-repeated token k-grams,
    as (gram, n_total, n_docs, keeper_id, keeper_pos) with gram the
    actual text — the observability companion to substring_dedup (what
    WOULD it remove, and from how many docs?).

    Scale shape: the same O(total tokens) hashed occurrence inventory as
    substring_dedup (only (id, pos, 8-byte hash) shuffles); gram TEXT is
    reconstructed ONLY for the final top_n rows by joining their keeper
    (id, pos) back to the token arrays and slicing — never for the full
    gram population. Ranking ties break on (keeper_id, keeper_pos), both
    available hash-side, so the top-N cut is deterministic without
    materializing any text."""
    from ..cache import track_persist  # noqa: PLC0415
    from ..functions.text import tokens_col  # noqa: PLC0415

    base = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_tk")
    )
    base = track_persist(base)
    occ = _gram_occurrences_expr(base, k)
    stats = (
        occ.groupBy("g")
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("id").alias("n_docs"),
            F.min(F.struct("id", "pos")).alias("keep"),
        )
        .filter(F.col("n_total") >= 2)
    )
    from pyspark.sql import Window  # noqa: PLC0415

    # the top-N cut is orderBy().limit() — TakeOrderedAndProject keeps a
    # local top_n per partition and merges only those, so the (possibly
    # enormous) duplicated-gram population never flows through a single
    # task; rk is assigned AFTER the cut, a window over top_n rows only
    cut = stats.orderBy(
        F.desc("n_total"), F.asc("keep.id"), F.asc("keep.pos")
    ).limit(top_n)
    w = Window.orderBy(
        F.desc("n_total"), F.asc("keep.id"), F.asc("keep.pos")
    )
    top = cut.withColumn("rk", F.row_number().over(w)).select(
        F.col("keep.id").alias("keeper_id"),
        F.col("keep.pos").alias("keeper_pos"),
        "n_total",
        "n_docs",
        "rk",
    )
    return (
        top.join(base, top["keeper_id"] == base["id"])
        .select(
            F.array_join(
                F.slice(F.col("_tk"), F.col("keeper_pos"), k), " "
            ).alias("gram"),
            F.col("n_total").cast("long").alias("n_total"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("keeper_id"),
            F.col("keeper_pos").cast("long").alias("keeper_pos"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
