"""Fused row-level passes (constraints/fused.py) vs the standalone checks.

The fused scans must emit exactly the same violation-row multiset as the
union of the individual check functions — same checks, severities, doc_ids,
parts, and detail strings — both standalone and inside a run_suite pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datachecker_spark.constraints import confidential, fused, predicates, stats
from datachecker_spark.datagen import generate_documents
from datachecker_spark.fingerprint import annotate

_NOW = "2024-06-01 00:00:00"
_KEY = ["check", "severity", "doc_id", "part", "detail"]


def _corpus(spark, n=4000):
    # high violation rates so every fused branch has planted offenders
    return annotate(
        generate_documents(
            spark, n, dup_rate=0.1, dangling_rate=0.05, conf_rate=0.05, seed=7
        )
    ).localCheckpoint(eager=True)


def _same_multiset(a, b):
    ga = a.groupBy(_KEY).count()
    gb = b.groupBy(_KEY).count()
    assert ga.exceptAll(gb).count() == 0 and gb.exceptAll(ga).count() == 0


def test_fused_doc_checks_match_standalone(spark):
    docs = _corpus(spark)
    fused_df = fused.fused_doc_checks(docs, now=_NOW)
    singles = (
        stats.check_empty_docs(docs)
        .unionByName(stats.check_large_docs(docs))
        .unionByName(predicates.check_doc_names(docs))
        .unionByName(predicates.check_name_length(docs))
        .unionByName(stats.check_timestamps(docs, now=_NOW))
        .unionByName(confidential.check_confidential(docs))
    )
    assert fused_df.count() > 0
    _same_multiset(fused_df, singles)


def _planted_raw(spark):
    """Handcrafted docs hitting every ref- and span-level rule (the
    generator plants none of these): temp ext, legacy ext, over-long ref,
    temp+legacy overlap, unknown kind, binary-in-text, media-with-text,
    text-with-ref, invalid JSON."""
    rows = [
        ("d_temp", [("media", None, "a/b/cache.tmp", 0)], "p0"),
        ("d_leg", [("media", None, "x/report.wpd", 0)], "p0"),
        ("d_long", [("media", None, "m/" + "a" * 1100 + ".png", 0)], "p1"),
        ("d_both", [("media", None, "y/old.dbf", 0),
                    ("media", None, "z/core.swp", 1)], "p1"),
        ("d_kinds", [("blob", "x", None, 0), ("text", "%PDF-1.4 junk", None, 1),
                     ("media", "inline!", "ok.png", 2), ("text", "hi", "ref.png", 3)],
         "p2"),
        ("d_json", [("json", "{not valid", None, 0), ("text", "{also bad", None, 1)],
         "p2"),
        ("d_ok", [("text", "plain", None, 0), ("media", None, "fine.png", 1)], "p3"),
    ]
    return spark.createDataFrame(
        [(d, [(k, t, r, o) for (k, t, r, o) in sp], p) for d, sp, p in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, part string",
    )


def _planted(spark):
    return annotate(_planted_raw(spark))


def test_fused_ref_checks_match_standalone(spark):
    for docs in (_corpus(spark), _planted(spark)):
        fused_df = fused.fused_ref_checks(docs)
        singles = (
            predicates.check_ref_path_length(docs)
            .unionByName(predicates.check_temp_refs(docs))
            .unionByName(predicates.check_legacy_refs(docs))
        )
        _same_multiset(fused_df, singles)
    # the planted corpus trips every rule, including two checks on one ref
    checks = {r["check"] for r in fused_df.select("check").distinct().collect()}
    assert checks == {
        predicates.CHECK_REF_LEN, predicates.CHECK_TEMP, predicates.CHECK_LEGACY
    }


def test_fused_span_checks_match_standalone(spark):
    for docs in (_corpus(spark), _planted(spark)):
        fused_df = fused.fused_span_checks(docs)
        singles = predicates.check_kind_consistency(docs).unionByName(
            predicates.check_json_spans(docs)
        )
        _same_multiset(fused_df, singles)
    checks = {r["check"] for r in fused_df.select("check").distinct().collect()}
    assert checks == {predicates.CHECK_KIND, predicates.CHECK_JSON}


def test_fused_toggles(spark):
    docs = _corpus(spark, n=500)
    only_empty = fused.fused_doc_checks(
        docs, large_docs=False, name_rules=False, name_length=False,
        timestamps=False, confidential=False, now=_NOW,
    )
    checks = {r["check"] for r in only_empty.select("check").distinct().collect()}
    assert checks <= {stats.CHECK_EMPTY}
    assert (
        fused.fused_doc_checks(
            docs, empty_docs=False, large_docs=False, name_rules=False,
            name_length=False, timestamps=False, confidential=False,
        )
        is None
    )
    assert fused.fused_ref_checks(
        docs, ref_path_length=False, temp_refs=False, legacy_refs=False
    ) is None
    assert fused.fused_span_checks(
        docs, kind_consistency=False, json_spans=False
    ) is None


def test_suite_row_checks_equal_standalone(spark):
    """run_suite's row-level verdicts (the three fused scans inside the
    suite pass, next to every other family) equal the union of the eleven
    standalone check functions over the same corpus — on a generated
    corpus with catalog and expectations, and on the planted ref/span
    offenders."""
    from datachecker_spark.datagen import (
        generate_expected_fingerprints,
        generate_media_catalog,
    )
    from datachecker_spark.runner import SuiteConfig, run_suite

    row_checks = [
        stats.CHECK_EMPTY, stats.CHECK_LARGE, stats.CHECK_FUTURE, stats.CHECK_STALE,
        predicates.CHECK_NAME_RULES, predicates.CHECK_NAME_LEN,
        predicates.CHECK_REF_LEN, predicates.CHECK_TEMP, predicates.CHECK_LEGACY,
        predicates.CHECK_KIND, predicates.CHECK_JSON, confidential.CHECK_NAME,
    ]
    raw = generate_documents(
        spark, 1500, dup_rate=0.1, dangling_rate=0.03, conf_rate=0.02, seed=42
    ).localCheckpoint(eager=True)
    corpora = [
        (raw, dict(
            media_catalog=generate_media_catalog(spark),
            expected_fingerprints=generate_expected_fingerprints(raw)
            .localCheckpoint(eager=True),
        )),
        (_planted_raw(spark), {}),
    ]
    seen: set[str] = set()
    for raw_docs, inputs in corpora:
        res = run_suite(raw_docs, config=SuiteConfig(timestamp_now=_NOW), **inputs)
        docs = annotate(raw_docs)
        want = (
            stats.check_empty_docs(docs)
            .unionByName(stats.check_large_docs(docs))
            .unionByName(predicates.check_doc_names(docs))
            .unionByName(predicates.check_name_length(docs))
            .unionByName(predicates.check_ref_path_length(docs))
            .unionByName(predicates.check_temp_refs(docs))
            .unionByName(predicates.check_legacy_refs(docs))
            .unionByName(predicates.check_kind_consistency(docs))
            .unionByName(predicates.check_json_spans(docs))
            .unionByName(confidential.check_confidential(docs))
            .unionByName(stats.check_timestamps(docs, now=_NOW))
        )
        got = res.violations.where(F.col("check").isin(row_checks))
        _same_multiset(got, want)
        seen |= {r["check"] for r in got.select("check").distinct().collect()}
        res.release()
    assert len(seen) >= 8, seen


def test_fused_now_pinned_to_literal(spark):
    """now=None must sample the wall clock ONCE at plan build (a literal),
    never compile to current_timestamp() — which is re-evaluated per batch,
    so two batches of one fused plan could disagree on the future/stale
    cutoff (VERDICT r3 #10). The literal makes batch agreement structural."""
    docs = _corpus(spark, n=200)
    df = fused.fused_doc_checks(docs, now=None, confidential=False)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "current_timestamp" not in analyzed
    # and the sampled literal actually gates: the generator's 2024-epoch
    # timestamps all read stale against the real (2026+) wall clock
    assert df.where(F.col("check") == stats.CHECK_STALE).count() > 0


def test_fused_plan_is_single_scan(spark):
    """The fused ref/span passes stay whole-stage-codegen with no Python and
    exactly one scan of the corpus each."""
    docs = _corpus(spark, n=500)
    for df in (fused.fused_ref_checks(docs), fused.fused_span_checks(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "EvalPython" not in plan
        assert plan.count("Scan ExistingRDD") + plan.count("TableCacheQueryStage") <= 1
