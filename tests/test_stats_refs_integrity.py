"""Stats block, uniqueness, referential, integrity vs FIXTURES families."""

from __future__ import annotations

from pyspark.sql import functions as F

from datachecker_spark.constraints.integrity import computed_hashes, verify_integrity
from datachecker_spark.constraints.referential import check_media_refs, media_refs
from datachecker_spark.constraints.stats import (
    check_empty_docs,
    check_large_docs,
    partition_profile,
)
from datachecker_spark.constraints.uniqueness import CHECK_NAME as UNIQUE_CHECK, check_unique_ids
from datachecker_spark.contract import metrics_from_violations
from datachecker_spark.datagen import (
    generate_documents,
    generate_expected_fingerprints,
    generate_media_catalog,
    make_docs,
)


def test_partition_profile_exact(spark):
    rows = [
        ("a", [("text", "abcd", None, 0), ("media", None, "m1", 1)], "p0"),
        ("b", [("text", None, None, 0), ("text", "xy", None, 1)], "p0"),
        ("c", [], "p0"),
        ("d", [("media", None, None, 0)], "p1"),
    ]
    prof = {r["part"]: r.asDict() for r in partition_profile(make_docs(spark, rows)).collect()}
    p0 = prof["p0"]
    assert p0["n_docs"] == 3
    assert p0["n_empty_docs"] == 1  # doc c; doc b has "xy" (size 2)
    assert p0["min_size"] == 0 and p0["max_size"] == 4
    assert p0["n_text_spans"] == 3 and p0["n_media_spans"] == 1
    assert p0["null_text_rate"] == round(1 / 3, 6)
    assert p0["null_ref_rate"] == 0.0
    p1 = prof["p1"]
    assert p1["null_ref_rate"] == 1.0
    assert p1["n_empty_docs"] == 1


def test_empty_and_large(spark):
    rows = [
        ("a", [], "p0"),
        ("b", [("text", "x" * 100, None, 0)], "p0"),
        ("c", [("text", "small", None, 0)], "p0"),
    ]
    docs = make_docs(spark, rows)
    assert {r["doc_id"] for r in check_empty_docs(docs).collect()} == {"a"}
    assert {r["doc_id"] for r in check_large_docs(docs, threshold=50).collect()} == {"b"}


def test_unique_ids(spark):
    rows = [
        ("dup", [("text", "v1", None, 0)], "p0"),
        ("dup", [("text", "v2", None, 0)], "p1"),
        ("ok", [("text", "v3", None, 0)], "p0"),
    ]
    v = check_unique_ids(make_docs(spark, rows))
    got = [(r["doc_id"], r["part"]) for r in v.collect()]
    assert sorted(got) == [("dup", "p0"), ("dup", "p1")]
    assert all(r["severity"] == "ERROR" for r in v.collect())


def test_unique_ids_null_id_group(spark):
    """Repeated null ids are a duplicate group: each of its rows is an ERROR
    row, like each row of a repeated non-null id."""
    rows = [(None, [("text", f"n{i}", None, 0)], "p0") for i in range(3)]
    rows += [("a", [("text", f"a{i}", None, 0)], "p1") for i in range(2)]
    v = check_unique_ids(make_docs(spark, rows)).collect()
    assert sorted((r["doc_id"] or "", r["detail"]) for r in v) == [
        ("", "doc_id occurs 3 times")] * 3 + [("a", "doc_id occurs 2 times")] * 2
    assert all(r["severity"] == "ERROR" for r in v)


def test_metrics_null_part_fails(spark):
    """A null part with a violation reads fail in the verdict table, not a
    vacuous pass."""
    rows = [("dup", [("text", f"v{i}", None, 0)], None) for i in range(2)]
    rows += [("ok", [("text", "v", None, 0)], "p0")]
    docs = make_docs(spark, rows)
    m = metrics_from_violations(check_unique_ids(docs), docs, [UNIQUE_CHECK])
    got = sorted((r["part"] or "", r["status"], r["violation_count"], r["docs_scanned"])
                 for r in m.collect())
    assert got == [("", "fail", 2, 2), ("p0", "pass", 0, 1)]


def test_media_refs_and_dangling(spark):
    rows = [
        ("a", [("media", None, "m1", 0), ("media", None, "ghost", 1)], "p0"),
        ("b", [("media", None, "ghost", 0), ("media", None, "ghost", 1)], "p0"),
        ("c", [("text", "no media", None, 0), ("media", None, None, 1)], "p1"),
    ]
    docs = make_docs(spark, rows)
    catalog = spark.createDataFrame([("m1",)], ["media_ref"])
    assert media_refs(docs).count() == 4  # null ref excluded
    v = check_media_refs(docs, catalog, broadcast_catalog=True)
    got = sorted((r["doc_id"], r["detail"]) for r in v.collect())
    # distinct per (doc, ref): b's two ghost spans collapse to one violation
    assert got == [
        ("a", "media_ref ghost not in catalog"),
        ("b", "media_ref ghost not in catalog"),
    ]


def test_integrity_families(spark):
    rows = [
        ("ok1", [("text", "alpha", None, 0)], "p0"),
        ("err1", [("text", "beta", None, 0)], "p0"),
        ("create1", [("text", "gamma", None, 0)], "p1"),
        ("untracked", [("text", "delta", None, 0)], "p1"),
    ]
    docs = make_docs(spark, rows)
    hashes = {r["doc_id"]: r for r in computed_hashes(docs).collect()}
    expected = spark.createDataFrame(
        [
            ("ok1", "xxhash64", hashes["ok1"]["xxhash64"]),
            ("ok1", "sha256", hashes["ok1"]["sha256"]),
            ("err1", "xxhash64", "wrong_hash_value"),
            ("create1", "xxhash64", None),
            ("ghost", "sha256", "deadbeef"),
        ],
        ["doc_id", "algo", "expected_hash"],
    )
    violations, write_back = verify_integrity(docs, expected)
    by_sev = {}
    for r in violations.collect():
        by_sev.setdefault(r["severity"], set()).add(r["doc_id"])
    assert by_sev.get("ERROR") == {"err1", "ghost"}
    assert by_sev.get("CHECK") == {"create1"}
    wb = write_back.collect()
    assert len(wb) == 1 and wb[0]["doc_id"] == "create1"
    assert wb[0]["expected_hash"] == hashes["create1"]["xxhash64"]


def test_generated_expectations_roundtrip(spark):
    docs = generate_documents(spark, 2000, seed=5)
    exp = generate_expected_fingerprints(docs, seed=5)
    violations, write_back = verify_integrity(docs, exp)
    sev = {r["severity"]: r["cnt"] for r in
           violations.groupBy("severity").agg(F.count("*").alias("cnt")).collect()}
    # corrupt slice → ERROR, ghost docs → ERROR, create slice → CHECK
    assert sev.get("ERROR", 0) >= 5  # at least the 5 ghosts
    assert sev.get("CHECK", 0) >= 1
    assert write_back.count() == sev.get("CHECK", 0)
    # everything not planted as corrupt/create/ghost verifies clean:
    n_exp = exp.count()
    assert violations.count() < n_exp  # majority pass silently


def test_generated_dangling_rate(spark):
    docs = generate_documents(spark, 2000, dangling_rate=0.05, seed=6)
    catalog = generate_media_catalog(spark, 1000, seed=6)
    v = check_media_refs(docs, catalog, broadcast_catalog=True)
    n = v.count()
    assert n > 0
    assert all(r["detail"].startswith("media_ref missing_") for r in v.limit(20).collect())
