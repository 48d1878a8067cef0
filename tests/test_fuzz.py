"""Property/fuzz tests.

Pure-Python hypothesis properties on the frozen kernels (fast, no Spark),
plus ONE Spark job over an adversarial string corpus comparing the
expression classifier/normalizer with the Python oracle (hypothesis driving
Spark per-example would be pathological; a batch corpus keeps it one job).
"""

from __future__ import annotations

import random
import string

from hypothesis import example, given, settings
from hypothesis import strategies as st

from bb_ocr_spark import config, oracle
from bb_ocr_spark.operators.layout import xy_cut_order
from bb_ocr_spark.operators.tokenizer import tokenize_html_oracle

# --------------------------------------------------------------------------
# pure-python properties
# --------------------------------------------------------------------------

texts = st.text(
    alphabet=string.ascii_letters + string.digits + " \t|$.,-:/»[]()#@",
    max_size=200,
)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_classifier_total_and_deterministic(t):
    a = oracle.is_boilerplate_text(t)
    assert a == oracle.is_boilerplate_text(t)
    assert isinstance(a, bool)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(t):
    n = oracle.normalize_text(t)
    assert oracle.normalize_text(n) == n
    assert "  " not in n and not n.startswith(" ") and not n.endswith(" ")


@given(st.one_of(st.from_regex(config.LINK_TOKEN_RE), st.text(max_size=12)))
@example("http://")
@example("https://")
@example("href=")
@example("|")
@example(">")
@example("»")
@example("[nav]")
@settings(max_examples=300, deadline=None)
def test_link_tokens_hold_a_marker(t):
    # the Spark classifier counts link tokens only in texts holding a
    # marker; exact only if every link token holds one
    if oracle._LINK_TOKEN.match(t):
        assert any(m in t for m in config.LINK_TOKEN_MARKERS), t


def _needs_normalizing(t: str) -> bool:
    return (
        any(x in t for x in config.WS_NORMALIZE_TRIGGERS)
        or t.startswith(" ")
        or t.endswith(" ")
    )


single_spaced = st.lists(
    st.text(alphabet=string.ascii_letters + "\t\n\r\x0b\u00a0|»", min_size=1, max_size=8),
    max_size=8,
).map(" ".join)


@given(st.one_of(texts, single_spaced))
@example("a\tb")
@example("a\nb")
@example("a\rb")
@example("a  b")
@settings(max_examples=300, deadline=None)
def test_normalize_is_identity_without_a_trigger(t):
    # the Spark normaliser returns such a text unchanged without a regex
    if not _needs_normalizing(t):
        assert oracle.normalize_text(t) == t, repr(t)


@given(st.text(max_size=300))
@settings(max_examples=150, deadline=None)
def test_html_tokenizer_total(h):
    spans = tokenize_html_oracle(h)
    # offsets dense + ordered; media refs non-null iff media
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    for s in spans:
        if s["kind"] == "media":
            assert s["media_ref"] and s["text"] is None
        else:
            assert s["text"] and s["media_ref"] is None


regions = st.lists(
    st.tuples(
        st.floats(0, 100, allow_nan=False),
        st.floats(0, 100, allow_nan=False),
        st.floats(0.1, 30, allow_nan=False),
        st.floats(0.1, 30, allow_nan=False),
    ),
    min_size=0,
    max_size=12,
)


@given(regions)
@settings(max_examples=200, deadline=None)
def test_xy_cut_is_permutation_and_order_invariant(rs):
    regs = [
        {"x0": x, "y0": y, "x1": x + w, "y1": y + h, "text": f"r{i}"}
        for i, (x, y, w, h) in enumerate(rs)
    ]
    out = xy_cut_order(regs)
    assert sorted(r["text"] for r in out) == sorted(r["text"] for r in regs)
    shuffled = list(regs)
    random.Random(0).shuffle(shuffled)
    assert [r["text"] for r in xy_cut_order(shuffled)] == [r["text"] for r in out]


# --------------------------------------------------------------------------
# one-job Spark-vs-oracle fuzz corpus
# --------------------------------------------------------------------------


def _adversarial_corpus() -> list[str]:
    rng = random.Random("fuzz:42")
    alphabet = string.ascii_letters + string.digits + " \t\n\r|$.,-:/»[]()#@"
    corpus = [
        "", " ", "\t\n", "|", "| | |", "[nav]", "https://x", "href=y",
        "a https://x b", "ISBN 978-1-23-45678-9", "$1.50", "...",
        "é ü ß déjà", "a" * 330, "a" * 331, " lead", "trail ", "a  b   c",
        "\r\n\t mixed \t ws \n", "»", "> >", "12345", "x|y",
        "htt p://x", "http", "ahttp://x", "x>y", "a » b",
        "[nav]x", "[na v]", "href",
        "a\tb", "a\rb", "\t|\t", "|\r\n|", "a b ",
        "\u00a0a\u00a0", "a\x0bb",
    ]
    for _ in range(250):
        n = rng.randint(1, 120)
        corpus.append("".join(rng.choice(alphabet) for _ in range(n)))
    return corpus


def test_spark_classifier_matches_oracle_on_fuzz_corpus(spark):
    from pyspark.sql import functions as F

    from bb_ocr_spark.operators.extract import (
        is_boilerplate_text_col,
        normalize_text_col,
    )

    corpus = _adversarial_corpus()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "i int, t string")
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            F.when(
                F.col("t").rlike(r"[^ \t\n\r]"), is_boilerplate_text_col(F.col("t"))
            ).alias("boiler"),
            normalize_text_col(F.col("t")).alias("norm"),
        ).collect()
    }
    for i, t in enumerate(corpus):
        want_boiler = oracle.is_boilerplate_text(t) if t.strip() else None
        got = rows[i]
        assert got["boiler"] == want_boiler, f"{t!r}: {got['boiler']} != {want_boiler}"
        assert got["norm"] == oracle.normalize_text(t), f"norm mismatch {t!r}"


@given(st.text(alphabet="0123456789.,-$€£¥ UuSsDdollarseuropound", max_size=24))
@settings(max_examples=300, deadline=None)
def test_locale_number_python_total(t):
    from bb_ocr_spark.functions.numeric import py_currency_code, py_parse_locale_number

    v = py_parse_locale_number(t)
    assert v is None or isinstance(v, float)
    assert py_parse_locale_number(t) == v  # deterministic
    c = py_currency_code(t)
    assert c is None or c in {"USD", "EUR", "GBP", "JPY", "CAD", "AUD"}


def test_spark_locale_parse_matches_python_on_fuzz_corpus(spark):
    # one batch job over an adversarial corpus (hypothesis-per-example
    # through Spark would be pathological)
    import math

    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.numeric import (
        currency_code,
        parse_locale_number,
        py_currency_code,
        py_parse_locale_number,
    )

    rng = random.Random(7)
    alphabet = "0123456789.,-$€£¥ USD dollars euros pounds eur gbp x"
    corpus = ["1.234,56", "1,234.56", "12,50", "US$ 1 234,99", "25 dollars",
              "", ".", "-", ",,", "1.2.3", "-.5", "5.", "0,0", "9" * 320,
              "1,23", "1,234", "price: € 7,00 only", "¥1000", "C$ 9.99"]
    corpus += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
               for _ in range(600)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, raw string")
    got = {
        r["i"]: (r["amt"], r["ccy"])
        for r in df.select(
            "i",
            parse_locale_number(F.col("raw")).alias("amt"),
            currency_code(F.col("raw")).alias("ccy"),
        ).collect()
    }
    for i, s in enumerate(corpus):
        want_amt, want_ccy = py_parse_locale_number(s), py_currency_code(s)
        amt, ccy = got[i]
        if want_amt is None or amt is None:
            assert want_amt is None and amt is None, (s, amt, want_amt)
        elif math.isinf(want_amt) or math.isinf(amt):
            assert math.isinf(want_amt) and math.isinf(amt), (s, amt, want_amt)
        else:
            assert amt == want_amt, (s, amt, want_amt)
        assert ccy == want_ccy, (s, ccy, want_ccy)


def test_fuzz_pii_scrub_matches_python_re(spark):
    # one Spark job over an adversarial ASCII corpus: the Java-regex PII
    # chain must equal the python-re replay character-for-character (the
    # patterns are restricted to the Java∩RE2∩python subset; ASCII scope —
    # \b is ASCII in Java/RE2 but unicode-aware in python)
    import re

    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.scrub import PII_CHAIN, pii_scrub_col

    rng = random.Random("pii-fuzz")
    frags = [
        "a@b.co", "x.y+z@ex-ample.org", "@nope", "a@b", "1.2.3.4",
        "999.999.999.999", "10.0.0.256", "+1 555-123-4567", "call 44 20 111",
        "4111111111111111", "123456789012", "12345678901234567890",
        "word", "a-b", ".", "@", " ", "--", "+", "(12) 34",
    ]
    rows = []
    for i in range(400):
        n = rng.randrange(1, 8)
        rows.append((str(i), " ".join(rng.choice(frags) for _ in range(n))))
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", pii_scrub_col(F.col("text")).alias("s")).collect()
    }

    def py_chain(t):
        for _, pat, repl in PII_CHAIN:
            t = re.sub(pat, repl, t)
        return t

    for id_, text in rows:
        assert got[id_] == py_chain(text), (id_, text)


def test_fuzz_repetition_metrics_match_python(spark):
    # random multi-line ASCII docs: the expression-only repetition metrics
    # must equal the python set-semantics reference exactly
    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.scrub import repetition_cols

    rng = random.Random("rep-fuzz")
    lines_pool = ["alpha beta", "g  h", " x ", "", "tail", "alpha beta", "zz"]
    rows = []
    for i in range(300):
        n = rng.randrange(0, 10)
        rows.append((str(i), "\n".join(rng.choice(lines_pool) for _ in range(n))))
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: (r["n_lines"], r["dup_line_frac"], r["dup_line_char_frac"])
        for r in df.select("id", *repetition_cols(F.col("text"))).collect()
    }

    for id_, text in rows:
        lines = [ln.strip() for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        n = len(lines)
        distinct = list(dict.fromkeys(lines))
        chars = sum(len(x) for x in lines)
        dchars = sum(len(x) for x in distinct)
        want = (
            n,
            round((n - len(distinct)) / n, 6) if n else 0.0,
            round((chars - dchars) / chars, 6) if chars else 0.0,
        )
        assert got[id_] == want, (id_, text)


def test_fuzz_assign_shards_prefix_property(spark):
    # random weights + string keys: prefix sums must equal the python
    # global-order fold for any bucket count / parallelism
    from bb_ocr_spark.operators.packing import assign_shards

    rng = random.Random("shard-fuzz")
    rows = [(f"k{rng.randrange(10**9):09d}_{i}", rng.randrange(1, 500))
            for i in range(777)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    for num_buckets, levels in ((7, 1), (32, 2)):
        got = {
            r["doc_id"]: (r["prefix"], r["shard_id"])
            for r in assign_shards(
                df.repartition(5), budget=1000,
                num_buckets=num_buckets, levels=levels, fanout=4,
            ).collect()
        }
        prefix = 0
        for k, w in sorted(rows):
            assert got[k] == (prefix, prefix // 1000), (k, num_buckets, levels)
            prefix += w


def test_fuzz_assign_shards_atomic_greedy_reference(spark):
    """Doc-atomic packing vs a plain-python greedy reference: exact
    within each chunk×budget super-bucket (bucket boundaries from the
    global prefix), consecutive global shard ids, identical at two
    parallelism levels and bucket configurations. Includes oversized
    docs (> budget) which must sit alone in their own shard."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.packing import assign_shards_atomic

    rng = random.Random("atomic-fuzz")
    rows = [(f"k{rng.randrange(10**9):09d}_{i}",
             rng.choice([rng.randrange(1, 400), rng.randrange(1200, 2500)]))
            for i in range(333)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    budget, chunk = 1000, 4

    # python reference: same bucket rule, exact greedy per bucket
    prefix, buckets = 0, {}
    for k, w in sorted(rows):
        buckets.setdefault(prefix // (chunk * budget), []).append((k, w))
        prefix += w
    want, next_shard = {}, 0
    for gb in sorted(buckets):
        fill = None
        for k, w in buckets[gb]:
            if fill is None or fill + w > budget:
                if fill is not None:
                    next_shard += 1
                fill = w
            else:
                fill += w
            want[k] = next_shard
        next_shard += 1

    for num_buckets, levels, repart in ((7, 1, 3), (32, 2, 17)):
        got = {
            r["doc_id"]: r["shard_id"]
            for r in assign_shards_atomic(
                df.repartition(repart), budget=budget, chunk=chunk,
                num_buckets=num_buckets, levels=levels, fanout=4,
            ).collect()
        }
        release_persisted()
        assert got == want, (num_buckets, levels)

    # capacity invariant: every multi-doc shard totals <= budget
    tot = {}
    for k, w in rows:
        tot.setdefault(want[k], []).append(w)
    for shard, ws in tot.items():
        assert sum(ws) <= budget or len(ws) == 1, (shard, ws)
    # ids are consecutive from 0
    assert sorted(set(want.values())) == list(range(next_shard))


def test_fuzz_substring_dedup_python_reference(spark):
    """Random small-alphabet corpora (forced repeats) vs a brute-force
    python implementation of the rule: gram occurrences → keeper =
    globally-first → covered-position union → rebuild. Checks every
    output column including run counts, for several k."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import substring_dedup

    rng = random.Random("ssd-fuzz")
    alphabet = [f"w{i}" for i in range(7)]  # tiny → repeats guaranteed
    rows = [
        (d, " ".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30))))
        for d in range(20)
    ]

    def reference(k):
        toks = {d: t.split() if t else [] for d, t in rows}
        occ = {}
        for d in sorted(toks):
            tk = toks[d]
            for p in range(len(tk) - k + 1):
                occ.setdefault(tuple(tk[p : p + k]), []).append((d, p + 1))
        flagged = {}
        for g, sites in occ.items():
            if len(sites) >= 2:
                for d, p in sorted(sites)[1:]:
                    flagged.setdefault(d, set()).add(p)
        out = {}
        for d, tk in toks.items():
            starts = sorted(flagged.get(d, ()))
            covered = set()
            for s in starts:
                covered.update(range(s, s + k))
            runs = sum(
                1
                for i, s in enumerate(starts)
                if i == 0 or s - starts[i - 1] > k
            )
            kept = [t for i, t in enumerate(tk, 1) if i not in covered]
            out[d] = (len(tk), len(covered & set(range(1, len(tk) + 1))),
                      runs, " ".join(kept))
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3, 5):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"],
                          r["n_dup_runs"], r["text_dedup"])
            for r in substring_dedup(df, k=k).collect()
        }
        release_persisted()
        assert got == reference(k), k
