"""Text dedup family + text analysis operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachecker_spark import textops as X


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the woods "
    "while the hunter watches from the hill with great patience and care"
)
NEAR = BASE.replace("great patience", "immense patience")  # 2-word change
OTHER = "completely different content about spark dataframes shuffles and joins in distributed systems everywhere"


def test_shingles_and_tokens(spark):
    df = _df(spark, [("a", "The quick  brown fox")])
    row = df.select(
        X.tokens("text").alias("t"),
        X.word_shingles(X.tokens("text"), 2).alias("s2"),
        X.char_grams(F.col("text"), 8).alias("g"),
    ).collect()[0]
    assert row["t"] == ["the", "quick", "brown", "fox"]
    assert row["s2"] == ["the quick", "quick brown", "brown fox"]
    assert row["g"][0] == "The quic" and len(row["g"]) == len("The quick  brown fox") - 7


def test_ngram_jaccard_exact(spark):
    df = _df(spark, [("a", "x y z w"), ("b", "x y z q"), ("c", "p q r s")])
    # bigram sets: a={x y, y z, z w}, b={x y, y z, z q}, c={p q, q r, r s}
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in X.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    assert pairs[("a", "b")] == 0.5  # 2 common / 4 union
    assert ("a", "c") not in pairs  # no shared shingle → never a candidate


def test_ngram_jaccard_hashed_shingles_identical(spark):
    """hash_shingles=True (long join keys — the production path) must
    produce exactly the same pairs and jaccard values as the byte-exact
    string-key path on a corpus with shared, disjoint and near-dup docs."""
    rows = [("base", BASE), ("near", NEAR), ("other", OTHER)] + [
        (f"d{i}", f"{BASE} suffix variant {i} {'pad ' * (i % 5)}") for i in range(20)
    ]
    df = _df(spark, rows)
    def key(r):
        return (r["id_a"], r["id_b"])
    exact = {key(r): r["jaccard"]
             for r in X.ngram_jaccard_pairs(df, threshold=0.1).collect()}
    hashed = {key(r): r["jaccard"]
              for r in X.ngram_jaccard_pairs(
                  df, threshold=0.1, hash_shingles=True).collect()}
    assert exact == hashed and len(exact) > 10


def _brute_force_jaccard(rows, threshold, max_df=None):
    """Driver-side all-pairs oracle: pure-Python bigram-set Jaccard over
    the max_df-capped shingle universe (shingles in more than max_df docs
    are dropped from every set, as ngram_jaccard_pairs documents)."""
    def shset(text):
        toks = text.lower().split()
        return {f"{a} {b}" for a, b in zip(toks, toks[1:])}

    sets = {i: shset(tx) for i, tx in rows}
    if max_df is not None:
        dfreq: dict[str, int] = {}
        for sh in sets.values():
            for w in sh:
                dfreq[w] = dfreq.get(w, 0) + 1
        sets = {i: {w for w in sh if dfreq[w] <= max_df} for i, sh in sets.items()}
    sets = {i: sh for i, sh in sets.items() if sh}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                inter = len(sets[a] & sets[b])
                j = round(inter / len(sets[a] | sets[b]), 6)
                if j >= threshold:
                    want[(a, b)] = j
    return want


_PREFIX_CASES = (
    dict(threshold=0.1),
    dict(threshold=0.5, hash_shingles=True),
    dict(threshold=0.2, max_df=10, hash_shingles=True),
    dict(threshold=0.9),
)


def _assert_matches_oracle(spark, rows, **kw):
    want = _brute_force_jaccard(rows, kw["threshold"], kw.get("max_df"))
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in X.ngram_jaccard_pairs(_df(spark, rows), **kw).collect()}
    assert set(got) == set(want), kw
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want), kw
    return got


def test_ngram_jaccard_prefix_filter_identical(spark):
    """candidates="prefix" (All-Pairs prefix filtering + length filter +
    array_intersect verify) must emit exactly the (pair, jaccard) set of
    the brute-force oracle on a near-duplicate family of one base text —
    across thresholds (the prefix length depends on t), with and without
    hashed shingles, and with the max_df hot guard active (prefix ordering
    then runs over the capped universe). A candidate mode other than
    "prefix" is rejected."""
    rows = [("base", BASE), ("near", NEAR), ("other", OTHER)] + [
        (f"d{i}", f"{BASE} suffix variant {i} {'pad ' * (i % 5)}") for i in range(20)
    ] + [(f"s{i}", f"unique little doc number {i}") for i in range(5)]
    for kw in _PREFIX_CASES:
        got = _assert_matches_oracle(spark, rows, candidates="prefix", **kw)
        if kw["threshold"] == 0.1:
            assert len(got) > 10
    with pytest.raises(ValueError, match="prefix"):
        X.ngram_jaccard_pairs(_df(spark, rows), candidates="bucket")


def test_ngram_jaccard_random_corpus_vs_python_oracle(spark):
    """ngram_jaccard_pairs vs an INDEPENDENT driver-side brute-force oracle
    (pure-Python set Jaccard over all pairs), which pins the whole operator
    — tokenize, shingle, (df, s)-ordered prefixes, length filter,
    array_intersect verify — to a from-scratch implementation on a
    seeded-random corpus with heavy shingle sharing, tiny docs and
    threshold-boundary pairs."""
    import random

    rng = random.Random(20260820)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (f"r{i}", " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(50)
    ]
    for kw in (dict(threshold=0.3),) + _PREFIX_CASES:
        _assert_matches_oracle(spark, rows, **kw)


def test_minhash_near_dups(spark):
    df = _df(spark, [("base", BASE), ("near", NEAR), ("other", OTHER)])
    pairs = X.minhash_near_dup_pairs(df, threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {("base", "near")}
    jac = pairs[0]["jaccard"]
    # verification is exact jaccard, must match ngram_jaccard_pairs
    exact = X.ngram_jaccard_pairs(df, threshold=0.6).collect()[0]["jaccard"]
    assert jac == exact


def test_minhash_identical_docs(spark):
    df = _df(spark, [("a", BASE), ("b", BASE)])
    pairs = X.minhash_near_dup_pairs(df, threshold=0.99).collect()
    assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


def test_shared_shingle_sets_seam(spark):
    """The round-5 composition seam: minhash_near_dup_pairs and
    ngram_jaccard_pairs fed one caller-materialized
    shingle_sets table must return byte-identical rows to their standalone
    (tokenize-internally) forms — the seam only removes a redundant
    tokenization pass, never changes a value."""
    df = _df(spark, [("base", BASE), ("near", NEAR), ("other", OTHER),
                     ("dup", BASE), ("tail", NEAR + " with an extra tail")])
    shared = X.shingle_sets(df).localCheckpoint(eager=False)

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    assert rows(X.minhash_near_dup_pairs(df, threshold=0.2, sets=shared)) == rows(
        X.minhash_near_dup_pairs(df, threshold=0.2)
    )
    for hashed in (False, True):
        assert rows(
            X.ngram_jaccard_pairs(
                df, threshold=0.2, max_df=10, hash_shingles=hashed, sets=shared
            )
        ) == rows(
            X.ngram_jaccard_pairs(df, threshold=0.2, max_df=10, hash_shingles=hashed)
        )


def test_simhash_properties(spark):
    df = _df(spark, [("a", BASE), ("b", BASE), ("near", NEAR), ("other", OTHER)])
    sh = {r["doc_id"]: r["s"] for r in df.select("doc_id", X.simhash(X.tokens("text")).alias("s")).collect()}
    assert sh["a"] == sh["b"]  # identical text → identical simhash
    mask = (1 << 64) - 1  # signed-long XOR → unsigned popcount
    ham_near = bin((sh["a"] ^ sh["near"]) & mask).count("1")
    ham_other = bin((sh["a"] ^ sh["other"]) & mask).count("1")
    assert ham_near < ham_other
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in X.simhash_near_dup_pairs(df, max_hamming=3).collect()}
    assert pairs[("a", "b")] == 0


def _brute_force_hamming_pairs(df, max_hamming):
    """All-pairs bit_count(xor) join — the exact (quadratic) oracle."""
    base = X.simhash_table(df)
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("h"))
        .where(F.col("h") <= max_hamming)
        .collect()
    }


def test_simhash_completeness_vs_brute_force(spark):
    """The round-3 bug: the entry query ran max_hamming=6 over chunks=4,
    whose pigeonhole guarantee stops at hamming 3 — pairs at distance 4–6
    were found only when they luckily shared a 16-bit chunk. The banding
    must be COMPLETE: every pair the brute-force all-pairs hamming join
    finds, at the minimal banding AND at the wide-key variant."""
    # planted corpus: perturbation ladders off two base texts — yields a
    # spread of pairwise hamming distances including the 4..6 band
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    rows = []
    for i in range(60):
        mutated = list(words)
        for j in range(i % 7):
            mutated[(i * 5 + j * 3) % len(mutated)] = f"mut{i}_{j}"
        rows.append((f"p{i:02d}", " ".join(mutated)))
    rows += [(f"q{i:02d}", f"{OTHER} tail{i % 4} pad{i % 3}") for i in range(40)]
    df = _df(spark, rows)
    for max_hamming in (3, 6):
        expected = _brute_force_hamming_pairs(df, max_hamming)
        got_minimal = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in X.simhash_near_dup_pairs(df, max_hamming=max_hamming).collect()
        }
        assert got_minimal == expected, f"minimal banding incomplete at k={max_hamming}"
    # wide-key variant used by the entry query (chunks=8, key_chunks=2)
    expected6 = _brute_force_hamming_pairs(df, 6)
    got_wide = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in X.simhash_near_dup_pairs(
            df, max_hamming=6, chunks=8, key_chunks=2
        ).collect()
    }
    assert got_wide == expected6, "wide-key banding incomplete at k=6"
    assert expected6, "planted corpus produced no pairs — test is vacuous"
    # the test must actually exercise the 4..6 band the r3 code missed
    assert any(h > 3 for h in expected6.values()), (
        "no pairs at hamming 4-6 — regression test is vacuous"
    )


def test_simhash_rejects_incomplete_banding():
    import pytest as _pt

    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    df = _df(spark, [("a", BASE), ("b", NEAR)])
    with _pt.raises(AssertionError):
        X.simhash_near_dup_pairs(df, max_hamming=6, chunks=4)  # the r3 call shape
    with _pt.raises(AssertionError):
        X.simhash_near_dup_pairs(df, max_hamming=6, chunks=8, key_chunks=3)


def test_winnow_fingerprints(spark):
    df = _df(spark, [("a", BASE), ("b", BASE), ("c", OTHER)])
    fps = X.winnow_fingerprints(df)
    a = {r["fp"] for r in fps.where("id='a'").collect()}
    b = {r["fp"] for r in fps.where("id='b'").collect()}
    c = {r["fp"] for r in fps.where("id='c'").collect()}
    assert a == b and a
    assert len(a & c) < len(a) / 2  # unrelated text shares few fingerprints
    # density: winnowing keeps ~1/window of positions
    assert len(a) < len(BASE) / 2


def test_lang_id(spark):
    df = _df(spark, [
        ("en", "the cat is in the house and it is happy"),
        ("de", "der hund ist nicht in das haus und die katze"),
        ("fr", "le chien est dans la maison et les chats"),
        ("es", "el perro es un animal y la casa es grande"),
        ("xx", "zzz qqq www rrr ttt"),
    ])
    got = {r["id"]: r["lang_pred"] for r in X.lang_id(df).collect()}
    assert got == {"en": "en", "de": "de", "fr": "fr", "es": "es", "xx": "unknown"}


def test_token_stats(spark):
    df = _df(spark, [("a", "hello world, 42 times!")])
    r = X.token_stats(df).collect()[0]
    assert r["ws_tokens"] == 4
    # [hello][world][,][42][times][!]
    assert r["bpe_tokens"] == 6
    assert r["n_chars"] == 22


def test_quality_score(spark):
    df = _df(spark, [
        ("good", BASE),
        ("punct", "!!! ??? *** ### $$$ %%% @@@ &&&"),
        ("short", "hi"),
    ])
    q = {r["id"]: r["quality"] for r in X.quality_score(df).collect()}
    assert q["good"] > q["punct"]
    assert q["good"] > q["short"]
    assert all(0.0 <= v <= 1.0 for v in q.values())
