"""Predicate checks, partition aggregates, drift vs FIXTURES families."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from datachecker_spark.constraints.diraggs import check_partition_sizes
from datachecker_spark.constraints.drift import (
    chi_square_drift,
    check_drift,
    ks_drift,
    psi_drift,
)
from datachecker_spark.constraints.predicates import (
    check_doc_names,
    check_json_spans,
    check_kind_consistency,
    check_legacy_refs,
    check_name_length,
    check_temp_refs,
)
from datachecker_spark.datagen import make_docs

T = lambda txt: [("text", txt, None, 0)]  # noqa: E731


def test_name_rules(spark):
    rows = [
        ("double  space", T("x"), "p0"),
        ("dash--dash", T("x"), "p0"),
        ("under__score", T("x"), "p0"),
        ("dot..dot", T("x"), "p0"),
        ("file.json.json", T("x"), "p0"),
        ('bad<char"', T("x"), "p0"),
        ("CON.txt", T("x"), "p0"),
        ("trailing.", T("x"), "p0"),
        ("fine-name.json", T("x"), "p0"),
        ("file.json.txt", T("x"), "p0"),  # different extensions: OK
    ]
    v = check_doc_names(make_docs(spark, rows))
    got = {r["doc_id"]: r["detail"] for r in v.collect()}
    assert set(got) == {
        "double  space", "dash--dash", "under__score", "dot..dot",
        "file.json.json", 'bad<char"', "CON.txt", "trailing.",
    }
    assert got["file.json.json"] == "name rule: duplicate_extension"
    assert got["CON.txt"] == "name rule: reserved_name"


def test_name_length(spark):
    rows = [("x" * 250, T("a"), "p0"), ("short", T("a"), "p0")]
    v = check_name_length(make_docs(spark, rows))
    assert v.count() == 1


def test_temp_and_legacy_refs(spark):
    rows = [
        ("a", [("media", None, "build/cache.tmp", 0)], "p0"),
        ("b", [("media", None, "pics/Thumbs.db", 0)], "p0"),
        ("c", [("media", None, "node_modules/x/y.png", 0)], "p0"),
        ("d", [("media", None, "docs/report.doc", 0)], "p0"),
        ("e", [("media", None, "sounds/loop.wav", 0)], "p0"),
        ("f", [("media", None, "photo.png", 0)], "p0"),
        ("g", [("media", None, "data.tmp.bin", 0)], "p0"),  # non-final ext: OK
    ]
    docs = make_docs(spark, rows)
    temps = {r["doc_id"] for r in check_temp_refs(docs).collect()}
    assert temps == {"a", "b", "c"}
    legacy = {r["doc_id"]: r["detail"] for r in check_legacy_refs(docs).collect()}
    assert set(legacy) == {"d", "e"}
    assert "Microsoft Word 97-2003" in legacy["d"]


def test_kind_consistency(spark):
    rows = [
        ("pdfdoc", [("text", "%PDF-1.7 stuff", None, 0)], "p0"),
        ("pngdoc", [("text", "\x89PNG\r\n", None, 0)], "p0"),
        ("weird", [("blob", "x", None, 0)], "p0"),
        ("mtext", [("media", "inline!", "m1", 0)], "p0"),
        ("tref", [("text", "hello", "m1", 0)], "p0"),
        ("htmlok", [("text", "<html><body>fine</body>", None, 0)], "p0"),
        ("clean", [("text", "just words", None, 0), ("media", None, "m1", 1)], "p0"),
    ]
    v = check_kind_consistency(make_docs(spark, rows))
    got = {r["doc_id"] for r in v.collect()}
    # html is text-like → allowed as text
    assert got == {"pdfdoc", "pngdoc", "weird", "mtext", "tref"}


def test_json_spans(spark):
    rows = [
        ("ok", [("json", '{"id": 2, "ok": true}', None, 0)], "p0"),
        ("bad", [("json", '{"id": 2, "ok": false', None, 0)], "p0"),
        ("bad_text", [("text", '{"broken": ', None, 0)], "p0"),
        ("plain", [("text", "no json here", None, 0)], "p0"),
    ]
    v = check_json_spans(make_docs(spark, rows))
    assert {r["doc_id"] for r in v.collect()} == {"bad", "bad_text"}


def test_partition_sizes(spark):
    rows = (
        [(f"a{i}", T("x"), "big") for i in range(12)]
        + [("solo", T("x"), "single")]
        + [(f"b{i}", T("x"), "normal") for i in range(5)]
    )
    docs = make_docs(spark, rows)
    expected = spark.createDataFrame([("big",), ("single",), ("normal",), ("ghostpart",)], ["part"])
    v = check_partition_sizes(docs, expected_parts=expected, max_items=10)
    got = {(r["check"], r["part"]) for r in v.collect()}
    assert got == {
        ("many_items_partition", "big"),
        ("one_item_partition", "single"),
        ("empty_partition", "ghostpart"),
    }


CLEAN_PARTS = [f"p{i:02d}" for i in range(11)]


def _drift_docs(spark):
    """p_shift has a biased kind histogram and shifted sizes; 11 clean
    partitions are iid uniform — enough that one bad partition doesn't
    contaminate the pooled rest each clean partition is tested against."""
    rng = random.Random(7)
    rows = []
    for p in CLEAN_PARTS + ["p_shift"]:
        for i in range(300):
            if p == "p_shift":
                kind = "media" if rng.random() < 0.75 else "text"
                size = 200 + rng.randrange(100)
            else:
                kind = "media" if rng.random() < 0.25 else "text"
                size = rng.randrange(100)
            if kind == "text":
                rows.append((f"{p}_{i}", [("text", "x" * max(size, 1), None, 0)], p))
            else:
                rows.append(
                    (f"{p}_{i}", [("media", None, f"m{i}", 0), ("text", "x" * max(size, 1), None, 1)], p)
                )
    return make_docs(spark, rows)


def test_chi_square_drift(spark):
    docs = _drift_docs(spark)
    has_media = (F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")) > 0).cast("int")
    res = {r["part"]: r["drifted"] for r in chi_square_drift(docs, has_media).collect()}
    assert res["p_shift"] is True
    assert all(res[p] is False for p in CLEAN_PARTS)


def test_ks_drift(spark):
    from datachecker_spark.fingerprint import doc_size

    docs = _drift_docs(spark)
    res = {r["part"]: r["drifted"] for r in ks_drift(docs, doc_size("spans")).collect()}
    assert res["p_shift"] is True
    assert all(res[p] is False for p in CLEAN_PARTS)


def test_psi_drift(spark):
    from datachecker_spark.fingerprint import doc_size

    docs = _drift_docs(spark)
    # per_octave=2: 300-doc partitions over ~11 occupied buckets keep the
    # null PSI ≈ n_buckets/n_part ≈ 0.04, far under the 0.2 threshold (the
    # occupancy rule in psi_drift's docstring)
    res = {
        r["part"]: r
        for r in psi_drift(docs, doc_size("spans"), per_octave=2).collect()
    }
    # p_shift's sizes live in [200,300) vs clean [0,100): disjoint bucket
    # mass, PSI far above the 0.2 actionability threshold
    assert res["p_shift"]["drifted"] is True
    assert res["p_shift"]["psi"] > 0.5
    assert all(res[p]["drifted"] is False for p in CLEAN_PARTS)
    # A-vs-A sanity: iid partitions score near 0 (well under threshold)
    assert all(res[p]["psi"] < 0.15 for p in CLEAN_PARTS)


def test_psi_drift_matches_reference_formula(spark):
    """Cross-check the columnar PSI against a literal Python recomputation
    (same buckets, same eps floor, same median baseline)."""
    import math
    from collections import Counter, defaultdict

    from datachecker_spark.fingerprint import doc_size

    docs = _drift_docs(spark)
    got = {r["part"]: r["psi"] for r in psi_drift(docs, doc_size("spans")).collect()}

    rows = docs.select(
        "part", doc_size("spans").cast("double").alias("x")
    ).collect()
    def bucket(x: float) -> int:
        return int(math.copysign(1, x)) * int(
            math.floor(4 * math.log2(1 + abs(x)))
        ) if x != 0 else 0
    counts: dict[str, Counter] = defaultdict(Counter)
    for r in rows:
        counts[r["part"]][bucket(r["x"])] += 1
    buckets = sorted({b for c in counts.values() for b in c})
    props = {
        p: {b: c[b] / sum(c.values()) for b in buckets}
        for p, c in counts.items()
    }
    def median(vals: list[float]) -> float:
        s = sorted(vals)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    med = {b: median([props[p][b] for p in props]) for b in buckets}
    msum = sum(med.values())
    base = {b: m / msum for b, m in med.items()}
    eps = 1e-6
    for p in props:
        psi = sum(
            (max(props[p][b], eps) - max(base[b], eps))
            * math.log(max(props[p][b], eps) / max(base[b], eps))
            for b in buckets
        )
        assert abs(got[p] - psi) < 1e-4, p


def test_check_drift_violations(spark):
    from datachecker_spark.fingerprint import doc_size

    docs = _drift_docs(spark)
    has_media = (F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")) > 0).cast("int")
    v = check_drift(docs, categorical=has_media, numeric=doc_size("spans"))
    got = {(r["check"], r["part"]) for r in v.collect()}
    assert ("drift_chi2", "p_shift") in got
    assert ("drift_ks", "p_shift") in got
    assert all(p == "p_shift" for _, p in got)


def _pandas_drift(pdf, *, alpha, per_octave, threshold, eps=1e-6):
    """Reference chi-square, KS and PSI per part in pandas: median
    baseline, Bonferroni critical values. A null category counts toward
    its part's total but scores no cell; KS and PSI drop null values (and
    so parts whose values are all null). Returns {(check, part): (score,
    crit, n_or_dof, drifted)}."""
    import math
    from statistics import NormalDist

    import numpy as np

    def bucket(x, k):
        return np.sign(x) * np.floor(k * np.log(1 + np.abs(x)) / math.log(2))

    def grid(df, key):
        cnt = df.groupby(["part", key]).size().unstack(fill_value=0)
        return cnt, df.groupby("part").size()

    out = {}
    # chi-square over cat
    cnt, n_part = grid(pdf.assign(cat=pdf["cat"].fillna("<null>")), "cat")
    cnt = cnt.drop(columns="<null>")
    prop = cnt.div(n_part, axis=0)
    base = prop.median() / prop.median().sum()
    n_parts = len(n_part)
    z = NormalDist().inv_cdf(1 - alpha / n_parts)
    for part in cnt.index:
        e = np.maximum(base * n_part[part], 0.5)
        stat = float((((cnt.loc[part] - e) ** 2) / e).sum())
        dof = cnt.shape[1] - 1
        k = max(dof, 1)
        crit = k * (1 - 2 / (9 * k) + z * math.sqrt(2 / (9 * k))) ** 3
        out[("drift_chi2", part)] = (stat, crit, dof, stat > crit)
    num = pdf[pdf["num"].notna()]
    # KS over 16-per-octave buckets of num
    cnt, n_part = grid(num.assign(b=bucket(num["num"], 16)), "b")
    ecdf = cnt.sort_index(axis=1).cumsum(axis=1).div(n_part, axis=0)
    med = ecdf.median()
    a_eff = alpha / len(n_part)
    for part in cnt.index:
        ks = float((ecdf.loc[part] - med).abs().max())
        crit = math.sqrt(-0.5 * math.log(a_eff / 2)) / math.sqrt(n_part[part])
        out[("drift_ks", part)] = (ks, crit, int(n_part[part]), ks > crit)
    # PSI over per_octave buckets of num
    cnt, n_part = grid(num.assign(b=bucket(num["num"], per_octave)), "b")
    prop = cnt.div(n_part, axis=0)
    q = np.maximum(prop.median() / prop.median().sum(), eps)
    for part in cnt.index:
        p = np.maximum(prop.loc[part], eps)
        psi = float(((p - q) * np.log(p / q)).sum())
        out[("drift_psi", part)] = (psi, threshold, int(n_part[part]), psi > threshold)
    return out


def test_check_drift_matches_pandas_reference(spark):
    """check_drift and its three views against _pandas_drift on a random
    corpus with a null category, a part whose numeric values are all
    null, negative values, and a PSI grid (3 per octave) that does not
    divide the KS grid (16)."""
    import re

    import pandas as pd

    rng = random.Random(23)
    rows = []
    for p in [f"r{i}" for i in range(8)] + ["shift", "allnull"]:
        for i in range(rng.randrange(150, 260)):
            w = (0.15, 0.35, 0.5) if p != "shift" else (0.15, 0.7, 0.15)
            cat = rng.choices([None, "a", "b"], weights=w)[0]
            num = None
            if p != "allnull" and rng.random() > 0.1:
                num = rng.gauss(40.0 if p == "shift" else 0.0, 25.0)
            rows.append((p, cat, num))
    docs = spark.createDataFrame(rows, "part string, cat string, num double")
    pdf = pd.DataFrame(rows, columns=["part", "cat", "num"])
    alpha, thr = 0.01, 0.2
    ref = _pandas_drift(pdf, alpha=alpha, per_octave=3, threshold=thr)
    assert ("drift_chi2", "allnull") in ref and ("drift_ks", "allnull") not in ref
    assert any(r[3] for r in ref.values()) and not all(r[3] for r in ref.values())

    def close(a, b):
        return abs(a - b) <= 1e-5 * max(1.0, abs(b))

    views = {
        "drift_chi2": (chi_square_drift(docs, "cat", alpha=alpha), "stat", "dof"),
        "drift_ks": (ks_drift(docs, "num", alpha=alpha), "ks", "n_part"),
        "drift_psi": (psi_drift(docs, "num", threshold=thr, per_octave=3), "psi", "n_part"),
    }
    got = {}
    for check, (df, score, n) in views.items():
        for r in df.collect():
            crit = r["crit"] if "crit" in r else thr
            got[(check, r["part"])] = (r[score], crit, r[n], r["drifted"])
    assert set(got) == set(ref)
    for k, (score, crit, n, drifted) in ref.items():
        g = got[k]
        assert close(g[0], score) and close(g[1], crit), (k, g, ref[k])
        assert (g[2], g[3]) == (n, drifted), (k, g, ref[k])

    v = check_drift(docs, categorical="cat", numeric="num", alpha=alpha,
                    psi=True, psi_threshold=thr, psi_per_octave=3).collect()
    assert {(r["check"], r["part"]) for r in v} == {k for k, r in ref.items() if r[3]}
    for r in v:
        score, crit, n, _ = ref[(r["check"], r["part"])]
        nums = [float(x) for x in re.findall(r"-?[0-9.]+(?:E-?[0-9]+)?", r["detail"].split("=", 1)[1])]
        assert close(nums[0], score) and close(nums[1], crit) and nums[2] == n, r
        assert r["severity"] == "WARNING" and r["doc_id"] is None


def test_ref_path_length(spark):
    from datachecker_spark.constraints.predicates import check_ref_path_length

    def doc(doc_id, ref):
        return (doc_id, [("media", None, ref, 0)], "p0")

    rows = [
        doc("d1", "m/" + "a" * 2000),   # over the cap
        doc("d2", "m/short"),
        doc("d3", "m/" + "b" * 1023),   # 1025 chars -> over
        doc("d4", "m/" + "c" * 1000),   # 1002 chars -> under
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, part string",
    )
    got = {r["doc_id"] for r in check_ref_path_length(df, max_len=1024).collect()}
    assert got == {"d1", "d3"}
