"""Property-based tests (hypothesis) for the pure-expression layer.

Each example ships a LIST of generated strings through one Spark job, so
coverage scales with list size, not job count. Deadlines are disabled —
Spark job latency is not the property under test.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from unimib_simpss_spark.functions.analysis import quality_score, token_count_ws
from unimib_simpss_spark.functions.text import (
    normalized_text,
    shingles,
    token_fingerprint,
    tokens,
)
from unimib_simpss_spark.operators.rename import convert

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"), max_codepoint=0x2FF
        ),
        max_size=80,
    ),
    min_size=1,
    max_size=25,
)


def _eval(spark, strings, *cols):
    df = spark.createDataFrame([(s,) for s in strings], ["text"])
    return df.select(*cols).collect()


@SETTINGS
@given(strings=texts)
def test_tokens_are_lower_alnum_nonempty(spark, strings):
    rows = _eval(spark, strings, tokens("text").alias("tk"))
    for r in rows:
        for t in r.tk:
            assert re.fullmatch(r"[a-z0-9]+", t), t


@SETTINGS
@given(strings=texts)
def test_normalized_text_idempotent(spark, strings):
    once = normalized_text("text")
    rows = _eval(
        spark,
        strings,
        once.alias("a"),
        F.trim(F.regexp_replace(F.lower(once), "\\s+", " ")).alias("b"),
    )
    for r in rows:
        assert r.a == r.b


@SETTINGS
@given(strings=texts)
def test_shingle_count_bound(spark, strings):
    rows = _eval(
        spark,
        strings,
        F.size(tokens("text")).alias("n"),
        F.size(shingles("text")).alias("s"),
    )
    for r in rows:
        if r.n < 3:
            assert r.s == 0
        else:
            assert 1 <= r.s <= r.n - 2


@SETTINGS
@given(strings=texts, seed=st.integers(0, 2**16))
def test_fingerprint_order_blind(spark, strings, seed):
    """Shuffling a text's tokens never changes its set-fingerprint."""
    import random

    rng = random.Random(seed)

    def shuffle_words(s: str) -> str:
        ws = s.split()
        rng.shuffle(ws)
        return " ".join(ws)

    pairs = [(s, shuffle_words(s)) for s in strings]
    df = spark.createDataFrame(pairs, ["a", "b"])
    rows = df.select(
        token_fingerprint("a").alias("fa"), token_fingerprint("b").alias("fb")
    ).collect()
    for r in rows:
        assert r.fa == r.fb


@SETTINGS
@given(strings=texts)
def test_quality_score_bounded(spark, strings):
    rows = _eval(
        spark,
        strings,
        quality_score("text").alias("q"),
        token_count_ws("text").alias("n"),
    )
    for r in rows:
        if r.n == 0:
            continue  # empty text → NULL components
        assert r.q is not None and 0.0 <= r.q <= 1.0


@SETTINGS
@given(
    names=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6),
        min_size=1,
        max_size=6,
        unique=True,
    ),
    data=st.data(),
)
def test_convert_total_bijective_rename(spark, names, data):
    """P1 parity: a total rename maps every column exactly; any missing
    source key must raise (the reference's strict-arity ValueError)."""
    dsts = [f"{n}_dst" for n in names]
    mapping = dict(zip(names, dsts))
    df = spark.createDataFrame([tuple(range(len(names)))], names)
    out = convert(df, mapping, strict=True)
    assert out.columns == dsts

    if len(names) > 1:
        partial = dict(list(mapping.items())[:-1])
        with pytest.raises(ValueError):
            convert(df, partial, strict=True)


@SETTINGS
@given(strings=texts)
def test_repetition_metrics_bounded(spark, strings):
    """All repetition fractions live in [0, 1]; a text of one repeated
    token maxes top_token_frac at 1."""
    from unimib_simpss_spark.functions.analysis import repetition_components

    rc = repetition_components("text")
    rows = _eval(
        spark,
        strings + ["spam spam spam spam spam"],
        rc["top_token_frac"].alias("t"),
        rc["dup_2gram_frac"].alias("d2"),
        rc["dup_3gram_frac"].alias("d3"),
    )
    for r in rows:
        assert 0.0 <= r.t <= 1.0
        assert 0.0 <= r.d2 <= 1.0
        assert 0.0 <= r.d3 <= 1.0
    assert rows[-1].t == 1.0


@SETTINGS
@given(
    ntoks=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    budget=st.integers(min_value=1, max_value=64),
)
def test_greedy_pack_bins_monotone_and_dense(spark, ntoks, budget):
    """seq_bin is monotone in pack order, starts at 0, and never skips:
    concat-and-chunk can't leave an empty sequence behind."""
    from unimib_simpss_spark.operators.sampling import greedy_pack

    df = spark.createDataFrame(
        [("g", i, n) for i, n in enumerate(ntoks)], ["src", "id", "ntok"]
    )
    rows = sorted(
        greedy_pack(df, "src", "id", "ntok", budget=budget).collect(),
        key=lambda r: r.id,
    )
    bins = [r.seq_bin for r in rows]
    assert bins[0] == 0
    assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    assert all(b2 - b1 <= (rows[i].ntok // budget) + 1
               for i, (b1, b2) in enumerate(zip(bins, bins[1:])))


@SETTINGS
@given(strings=texts)
def test_redaction_idempotent_and_digit_free(spark, strings):
    from unimib_simpss_spark.functions.privacy import digit_count, redact_digits

    rows = _eval(
        spark,
        strings,
        redact_digits("text").alias("r1"),
        redact_digits(redact_digits("text")).alias("r2"),
        digit_count("text").alias("nd"),
        F.length("text").alias("ln"),
    )
    for r in rows:
        assert not re.search(r"[0-9]", r.r1)      # no digit survives
        assert r.r1 == r.r2                        # idempotent
        assert 0 <= r.nd <= r.ln                   # audit metric bounded


@SETTINGS
@given(strings=texts)
def test_pseudonym_functional_and_collision_free_in_sample(spark, strings):
    from unimib_simpss_spark.functions.privacy import pseudonym

    rows = _eval(spark, strings, F.col("text"), pseudonym("text").alias("p"))
    by_text: dict[str, set[str]] = {}
    for r in rows:
        by_text.setdefault(r.text, set()).add(r.p)
    # deterministic per value (functional); distinct values don't collide
    # in a sample this small (64-bit birthday bound)
    assert all(len(v) == 1 for v in by_text.values())
    ps = [next(iter(v)) for v in by_text.values()]
    assert len(set(ps)) == len(ps)


@SETTINGS
@given(strings=texts)
def test_bigram_count_matches_token_arithmetic(spark, strings):
    from unimib_simpss_spark.operators.curation import doc_bigrams

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: r.n
        for r in doc_bigrams(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for i, s in enumerate(strings):
        expect = max(len(s.split(" ")) - 1, 0)
        assert got.get(i, 0) == expect, (s, got.get(i, 0), expect)


@SETTINGS
@given(strings=texts, n=st.integers(2, 5))
def test_dup_spans_bounds(spark, strings, n):
    from unimib_simpss_spark.operators.curation import dup_spans

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], ["doc_id", "text"]
    )
    tokn = {i: len([t for t in re.split(r"\W+", s.lower()) if t]) for i, s in enumerate(strings)}
    for r in dup_spans(docs, n=n).collect():
        assert r.n_spans >= 1 and r.n_dup_grams >= r.n_spans
        # every span covers at least n tokens and at most the document
        assert n * r.n_spans <= r.dup_tokens
        assert r.dup_tokens <= max(tokn[r.doc_id], n)


# ------------------------------------------------------------------ bpe

word_corpora = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(words=word_corpora)
def test_bpe_fold_matches_reference_on_random_corpora(spark, words):
    """The distributed BPE loop (vocab-sized pair counts, Column-fold
    merge apply) must agree with the reference algorithm's while-loop
    merge on arbitrary small corpora — including the adversarial cases
    hypothesis likes: repeated single letters ('aaaa', overlap
    counting + greedy non-overlapping apply) and tie-heavy count
    tables (lexicographic tie-break)."""
    from unimib_simpss_spark.operators.curation import bpe_merges
    from tests.test_curation import _ref_bpe

    docs = spark.createDataFrame([(" ".join(words),)], ["text"])
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_merges(docs, n_merges=3).orderBy("step").collect()
    ]
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    assert got == _ref_bpe(wc, n_merges=3)


@SETTINGS
@given(
    weights=st.lists(
        st.one_of(st.integers(0, 5000), st.floats(0, 5000, allow_nan=False)),
        min_size=1,
        max_size=30,
    ),
    full=st.integers(1, 2000),
)
def test_pps_keep_matches_python_model(spark, weights, full):
    """pps_keep's integer membership equals the driver-side model
    floor(w)*buckets > (hash%buckets)*full — for integer AND fractional
    weights (floored identically), including the certainty region
    (floor(w) >= full always kept) and zero weight (never kept)."""
    import hashlib

    from unimib_simpss_spark.operators.sampling import pps_keep

    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {
        r.id: r.k
        for r in df.select("id", pps_keep("w", "id", full).alias("k")).collect()
    }
    for i, w in rows:
        h = _ref_hash64(str(i)) % 1_000_000
        import math

        expect = h * full < math.floor(w) * 1_000_000
        assert got[i] == expect, (i, w, full, h)
        if math.floor(w) >= full:
            assert got[i]
        if w < 1.0:
            assert not got[i]


@SETTINGS
@given(strings=texts, j=st.integers(0, 7), width=st.sampled_from([64, 512, 8192]))
def test_portable_cell_range_and_python_parity(spark, strings, j, width):
    """portable_cell lands every value in [0, width) and equals the
    driver-side md5 model — the bridge that lets the streaming state
    operators and the DuckDB oracles share one hash space."""
    import hashlib

    from unimib_simpss_spark.functions.sketches import portable_cell

    df = spark.createDataFrame([(s,) for s in strings], ["text"])
    rows = df.select(
        "text", portable_cell(F.col("text"), j, width).alias("c")
    ).collect()
    for r in rows:
        assert 0 <= r.c < width
        h = _ref_hash64(f"{j}:{r.text}") % width
        assert r.c == h, (r.text, j, width)


# ---------------------------------------------------------------- codecs
# Pure-NumPy, no Spark job per example — generous example counts.
_CODEC_SETTINGS = settings(max_examples=40, deadline=None)

grids = st.integers(min_value=1, max_value=24).flatmap(
    lambda h: st.integers(min_value=1, max_value=24).flatmap(
        lambda w: st.lists(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
            min_size=h * w,
            max_size=h * w,
        ).map(lambda vals: (h, w, vals))
    )
)


@_CODEC_SETTINGS
@given(g=grids)
def test_ppm_pgm_bmp_roundtrip_property(g):
    import numpy as np

    from unimib_simpss_spark.operators import codecs as C

    h, w, vals = g
    grid = np.array(vals).reshape(h, w)
    want = np.round(grid * 255) / 255  # 8-bit quantization is the codec floor
    for enc, dec in (
        (C.encode_ppm, C.decode_pnm),
        (C.encode_pgm, C.decode_pnm),
        (C.encode_bmp, C.decode_bmp),
    ):
        out = dec(enc(grid))
        assert out.shape == (h, w)
        assert np.abs(out - want).max() < 1e-9


@_CODEC_SETTINGS
@given(
    sig=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=400,
    ),
    rate=st.sampled_from([8_000, 16_000, 44_100]),
    bits=st.sampled_from([8, 16]),
)
def test_wav_roundtrip_property(sig, rate, bits):
    import numpy as np

    from unimib_simpss_spark.operators import codecs as C

    arr = np.array(sig)
    dec, got_rate = C.decode_wav(C.encode_wav(arr, rate, bits=bits))
    assert got_rate == rate
    assert len(dec) == len(arr)
    tol = 1 / 250 if bits == 8 else 1 / 32000
    assert np.abs(dec - arr).max() < tol


@_CODEC_SETTINGS
@given(
    frames=st.lists(grids, min_size=1, max_size=4),
)
def test_ppm_stream_roundtrip_property(frames):
    import numpy as np

    from unimib_simpss_spark.operators import codecs as C

    arrs = [np.array(v).reshape(h, w) for h, w, v in frames]
    got = C.decode_ppm_frames(b"".join(C.encode_ppm(a) for a in arrs))
    assert len(got) == len(arrs)
    for g, a in zip(got, arrs):
        assert np.abs(g - np.round(a * 255) / 255).max() < 1e-9


# ------------------------------------------------------------------- KLL
@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=3000,
    ),
    k=st.sampled_from([8, 32, 200]),
)
def test_kll_quantile_is_always_a_seen_value_with_bounded_rank(vals, k):
    """Two distribution-free invariants: every estimate is a value that
    was actually inserted, and its TRUE rank error is within the
    documented envelope for the sketch size (loose 3/sqrt(k) guard —
    measured error is far smaller; exact when nothing compacted)."""
    import bisect

    from unimib_simpss_spark.functions.kll import KLL

    sk = KLL(k)
    for v in vals:
        sk.add(v)
    sv = sorted(vals)
    n = len(vals)
    exact = sk.size() == n  # nothing compacted yet → rank-exact
    for p in (0.0, 0.25, 0.5, 0.75, 1.0):
        est = sk.quantile(p)
        assert est in vals
        lo = bisect.bisect_left(sv, est) / n
        hi = bisect.bisect_right(sv, est) / n
        dist = 0.0 if lo <= p <= hi else min(abs(lo - p), abs(hi - p))
        if exact:
            assert dist <= 1.0 / n + 1e-12
        else:
            assert dist <= 3.0 / (k ** 0.5)


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=2,
        max_size=1000,
    ),
    n_shards=st.integers(min_value=2, max_value=5),
)
def test_kll_merge_n_is_exact_and_wire_stable(vals, n_shards):
    from unimib_simpss_spark.functions.kll import KLL

    shards = [KLL(64) for _ in range(n_shards)]
    for i, v in enumerate(vals):
        shards[i % n_shards].add(v)
    merged = shards[0]
    for s in shards[1:]:
        merged.merge(s)
    assert merged.n == len(vals)
    clone = KLL.from_bytes(merged.to_bytes())
    assert clone.to_bytes() == merged.to_bytes()
    assert clone.quantile(0.5) == merged.quantile(0.5)


# ------------------------------------------------------------- chunking
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(
    n_toks=st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=8),
    params=st.sampled_from([(64, 48, 8), (32, 16, 4), (16, 8, 8), (10, 2, 2)]),
)
def test_chunking_covers_every_token_with_correct_overlap(spark, n_toks, params):
    """The reviewed invariant, fuzzed: with the enforced stride bound,
    every token of every document appears in at least one chunk, chunk
    ids are dense in start order, and consecutive windows overlap by
    chunk_tokens - stride (where both are full)."""
    from unimib_simpss_spark.operators.curation import chunk_documents

    ct, stride, mn = params
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in enumerate(n_toks)],
        "doc_id long, text string",
    )
    rows = chunk_documents(
        docs, chunk_tokens=ct, stride=stride, min_tokens=mn
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(n_toks):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert chunks[0].n_chunks == len(chunks)
        covered = set()
        for c in chunks:
            assert c.n_tok == len(c.chunk_text.split())
            assert c.n_tok <= ct
            covered.update(range(c.start_tok, c.start_tok + c.n_tok))
        assert covered == set(range(n)), (i, n, sorted(covered)[-5:])
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_tok - a.start_tok == stride


# ------------------------------------------------------ edit-distance
def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(
    strs=st.lists(
        st.text(alphabet="abcdexyz ", min_size=0, max_size=24),
        min_size=2,
        max_size=14,
    ),
    d=st.sampled_from([1, 2]),
)
def test_edit_distance_pairs_exact_on_random_strings(spark, strs, d):
    """Fuzzed exactness of the prefix-filtered join: identical pair set
    and distances as a reference DP Levenshtein over all pairs —
    including empty/short strings that route through the short-string
    and cross-length legs."""
    from unimib_simpss_spark.operators import dedup as D

    rows = [(i, s) for i, s in enumerate(strs)]
    got = sorted(
        (r.doc1, r.doc2, r.dist)
        for r in D.edit_distance_pairs(
            spark.createDataFrame(rows, "id long, s string"), "s", "id",
            max_dist=d,
        ).collect()
    )
    want = sorted(
        (i, j, _lev(a, b))
        for (i, a) in rows
        for (j, b) in rows
        if i < j and _lev(a, b) <= d
    )
    assert got == want


# ------------------------------------------------ round-11 operators
_rule_tables = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-50, 50)),   # id
        st.one_of(st.none(), st.integers(-5, 5)),     # v
    ),
    min_size=0,
    max_size=30,
)


@SETTINGS
@given(rows=_rule_tables, bound=st.integers(-3, 3))
def test_check_row_rules_matches_python_recount(spark, rows, bound):
    """Property: for ANY table and threshold rule, the one-pass gate's
    violation count equals a direct Python recount under three-valued
    logic (NULL predicate result = violation)."""
    from unimib_simpss_spark.operators.validation import check_row_rules

    df = spark.createDataFrame(rows, "id long, v long")
    out = {
        r.rule: r
        for r in check_row_rules(
            df,
            {
                "v_over": F.col("v") > bound,
                "id_not_null": F.col("id").isNotNull(),
            },
        ).collect()
    }
    want_v = sum(1 for _, v in rows if v is None or not (v > bound))
    want_id = sum(1 for i, _ in rows if i is None)
    assert out["v_over"].n_rows == len(rows)
    assert out["v_over"].n_violations == want_v
    assert out["id_not_null"].n_violations == want_id
    assert out["v_over"].passed == int(want_v == 0)


@SETTINGS
@given(
    left=st.lists(st.one_of(st.none(), st.integers(0, 40)), max_size=25),
    right=st.lists(st.integers(0, 40), max_size=15),
)
def test_bloom_pruned_semi_join_equals_plain_semi(spark, left, right):
    """Property: the bloom-pruned rewrite returns EXACTLY the plain
    left-semi join on any inputs (NULL probe keys, empty sides,
    duplicate rows)."""
    from unimib_simpss_spark.operators.skew import bloom_pruned_semi_join

    probe = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left)], "k long, pos long"
    )
    build = spark.createDataFrame([(k,) for k in right], "k long")
    plain = sorted(
        (r.k, r.pos)
        for r in probe.join(build, probe.k == build.k, "left_semi").collect()
    )
    pruned = sorted(
        (r.k, r.pos)
        for r in bloom_pruned_semi_join(probe, build, "k", "k").collect()
    )
    assert pruned == plain


# PII-shaped fragments interleaved with random text — the fuzz
# complement to test_curation.py's 16 hand-picked hostile cases: the
# property is VERBATIM Spark↔DuckDB parity of the structured scrub
# (Java Pattern vs RE2 on the same shared constants) plus idempotence
# on arbitrary input.
_PII_BITS = st.sampled_from(
    [
        "a@b.io",
        "john.doe+x@sub.example.co.uk",
        "user@192.168.1.1",
        "+39 02 1234 5678",
        "(800) 555 0199",
        "555-123-4567",
        "10.0.0.7",
        "255.255.255.255",
        "1.2.3.4.5",
        "2001:db8::1",
        "::1",
        "cafe::babe",
        "00:1a:2b:3c:4d:5e",
        "12:30:45",
        "2023-08-16",
        "978-3-16-148410-0",
        "4111 1111 1111 1111",
    ]
)
_pii_word = st.one_of(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
            max_codepoint=0x2FF,
        ),
        max_size=12,
    ),
    _PII_BITS,
)
pii_texts = st.lists(
    st.lists(_pii_word, min_size=0, max_size=6).map(" ".join),
    min_size=1,
    max_size=15,
)


@SETTINGS
@given(strings=pii_texts)
def test_scrub_pii_cross_engine_parity_and_idempotent(spark, strings):
    import duckdb

    from unimib_simpss_spark.functions import privacy as P

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "i int, text string"
    )
    cnts = P.pii_class_counts("text")
    got = (
        df.select(
            "i",
            P.scrub_pii("text").alias("s"),
            P.scrub_pii(P.scrub_pii("text")).alias("s2"),
            *[v.alias(k) for k, v in cnts.items()],
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i int, text varchar)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(strings)))
    csql = P.pii_class_counts_sql("text")
    sel = ", ".join(f"{v} AS {k}" for k, v in csql.items())
    duck = con.execute(
        f"SELECT {P.scrub_pii_sql('text')} AS s, {sel} FROM t ORDER BY i"
    ).fetchall()
    for r, d in zip(got, duck):
        assert (r.s, r.emails, r.phones, r.ipv4, r.ipv6) == tuple(d), (
            strings[r.i],
            r.s,
            d,
        )
        assert r.s2 == r.s  # idempotent on arbitrary input


def _ref_hash64(s: str) -> int:
    """Driver-side model of functions/hashing.hash64 — the 60-bit
    (15-hex-char) md5 prefix. Single definition for the portable-hash
    reference used by the pps/cell/replicate property tests."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@SETTINGS
@given(
    keys=st.lists(
        st.integers(0, 10**9), min_size=1, max_size=50, unique=True
    ),
    w=st.floats(min_value=0.0, max_value=5.0, allow_nan=False),
    dw=st.floats(min_value=0.0, max_value=3.0, allow_nan=False),
)
def test_replicate_copies_sql_matches_python_reference(keys, w, dw):
    """Fuzz of the fractional-epoch copy count (the scrub-fuzz
    discipline applied to the up-sampling arithmetic): DuckDB
    evaluating replicate_copies_sql must equal an INDEPENDENT
    pure-Python reference — the documented convention restated here
    (n = floor(w) + [md5-prefix-hash % buckets < round(frac(w) ·
    buckets)]), NOT _replicate_parts' own output, so a rounding or
    floor regression in the shared helper fails this test instead of
    propagating into both sides of it. Every key is inserted in BOTH
    groups (ids 2k / 2k+1), so each example exercises the per-group
    WHEN arm and the default ELSE arm of the generated CASE. Also pins
    floor(w) <= n <= ceil(w) per row. (The Spark Column twin shares
    _replicate_parts by construction and is pinned value-for-value by
    q30's oracle hash at two sfs plus test_replicate_by_weight_epochs'
    mix_keep-degeneracy check.)"""
    import math

    import duckdb

    from unimib_simpss_spark.operators.sampling import replicate_copies_sql

    weights = {"a": w}
    nc = replicate_copies_sql("s", "id", weights, default_weight=dw)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, s VARCHAR)")
    rows = [(2 * k, "a") for k in keys] + [(2 * k + 1, "b") for k in keys]
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got = dict(
        con.execute(f"SELECT id, {nc} FROM t ORDER BY id").fetchall()
    )
    for i, s in rows:
        w_eff = w if s == "a" else dw
        kk = int(math.floor(w_eff))
        thr = int(round((w_eff - kk) * 10_000))
        h = _ref_hash64(str(i)) % 10_000
        want = kk + (1 if h < thr else 0)
        assert got[i] == want, (i, s, got[i], want)
        assert math.floor(w_eff) <= got[i] <= math.ceil(w_eff), (i, w_eff)


@SETTINGS
@given(
    extra=st.lists(st.integers(-300, 600), max_size=12),
    m=st.sampled_from([64, 100, 256]),
)
def test_bloom_probe_rejects_positions_outside_m(spark, extra, m):
    """Property: a bit relation whose positions all lie in [0, m)
    probes with no false negative; one position outside it (a relation
    built with a different m) raises a clear m-mismatch error instead
    of aliasing into the packed words."""
    from unimib_simpss_spark.functions.sketches import bloom_bits, bloom_probe

    member = spark.createDataFrame([("x",)], "v string")
    bits = bloom_bits(member, "v", m=m).select(
        F.col("pos").cast("long").alias("pos")
    )
    bits = bits.unionByName(
        spark.createDataFrame([(p,) for p in extra], "pos long")
    )
    if all(0 <= p < m for p in extra):
        assert bloom_probe(bits, member, "v", m=m).first().bloom_hit == 1
    else:
        with pytest.raises(ValueError, match=f"different m than this probe's m={m}"):
            bloom_probe(bits, member, "v", m=m)
