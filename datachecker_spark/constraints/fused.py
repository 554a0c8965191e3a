"""Fused row-level constraint passes: walk once, apply every check.

The reference's core design point is its stat cache — walk the tree ONCE and
let all ~21 checks reuse the walk (/root/reference/src/modules/core.zig:
225-241). run_suite already applies that to the derived columns; this module
applies it to the row-level CHECKS themselves. Eleven of the suite's checks
are pure row predicates at one of three granularities, and as separate
union branches each re-scans (and re-decompresses) the cached corpus — the
spans column alone was read five times per pass. Fused, each granularity is
ONE scan emitting an array of optional violation structs that explode into
the shared contract:

* doc-level   — empty/large/name-rules/name-length/timestamps/confidential
                (reads doc_id, part, size, _flat, ts columns once)
* ref-level   — path-length/temp/legacy over ONE explode of the media refs
                (the legacy ext→description broadcast join becomes a map
                literal lookup, still fully inside codegen)
* span-level  — kind-consistency/json-validity over ONE posexplode

Measured motive (1M docs, local[16], warm cache): the eleven standalone
branches cost ~12s of near-fixed per-branch time that did NOT shrink from
4→16 cores (per-branch wall identical at both levels — fixed job overhead
plus repeated columnar decompression, the serial+bandwidth floor of the
suite); fused they are three branches.

Every condition/severity/detail expression here is copied verbatim from the
standalone checks (constraints/stats.py, predicates.py, confidential.py),
which remain the per-check public API; `tests/test_fused.py` asserts the
fused output row-multiset equals the union of the standalone checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datachecker_spark.constraints import confidential as conf
from datachecker_spark.constraints import predicates as P
from datachecker_spark.constraints import stats as S
from datachecker_spark.contract import SEV_ERROR, SEV_WARNING
from datachecker_spark.fingerprint import flattened_text


def _v(check: str, severity: str, cond: Column, detail: Column) -> Column:
    """Optional violation struct: NULL unless cond holds."""
    return F.when(
        cond,
        F.struct(
            F.lit(check).alias("check"),
            F.lit(severity).alias("severity"),
            detail.cast("string").alias("detail"),
        ),
    )


def _explode_violations(base: DataFrame, structs: list[Column]) -> DataFrame:
    """(doc_id, part) + optional-violation structs → contract rows.
    explode (non-outer) drops rows whose filtered array is empty."""
    return base.select(
        "doc_id",
        "part",
        F.explode(
            F.filter(F.array(*structs), lambda x: x.isNotNull())
        ).alias("_viol"),
    ).select(
        F.col("_viol.check").alias("check"),
        F.col("_viol.severity").alias("severity"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("part").cast("string").alias("part"),
        F.col("_viol.detail").alias("detail"),
    )


def fused_doc_checks(
    docs: DataFrame,
    *,
    empty_docs: bool = True,
    large_docs: bool = True,
    large_doc_size: int = S.DEFAULT_LARGE_DOC_SIZE,
    name_rules: bool = True,
    name_length: bool = True,
    max_name_len: int = P.MAX_NAME_LEN,
    timestamps: bool = True,
    now=None,
    max_age_days: int = S.DEFAULT_MAX_AGE_DAYS,
    confidential: bool = True,
    patterns: list[str] | None = None,
) -> DataFrame | None:
    """One scan for every per-document check. Expressions match the
    standalone checks exactly (see module docstring). Returns None when
    every toggle is off."""
    size = F.col("size") if "size" in docs.columns else S.doc_size("spans")
    structs: list[Column] = []
    if empty_docs:
        structs.append(
            _v(S.CHECK_EMPTY, SEV_WARNING, size == 0,
               F.lit("document has no text content"))
        )
    if large_docs:
        structs.append(
            _v(S.CHECK_LARGE, SEV_WARNING, size > large_doc_size,
               F.format_string("size=%d exceeds threshold=%d",
                               size, F.lit(large_doc_size)))
        )
    if name_rules:
        reason = P.name_violation_reason(F.col("doc_id"))
        structs.append(
            _v(P.CHECK_NAME_RULES, SEV_WARNING, reason.isNotNull(),
               F.concat(F.lit("name rule: "), reason))
        )
    if name_length:
        structs.append(
            _v(P.CHECK_NAME_LEN, SEV_WARNING,
               F.length("doc_id") > max_name_len,
               F.format_string("name length %d > %d",
                               F.length("doc_id"), F.lit(max_name_len)))
        )
    ts_present = [c for c in ("ingest_ts", "modified_ts") if c in docs.columns]
    if timestamps and ts_present:
        if now is None:
            # sample ONCE at plan build, as a literal — current_timestamp()
            # is re-evaluated per batch, so two batches of the same fused
            # plan could disagree on the future/stale cutoff (run_suite
            # always samples first; this guards direct callers). TZ
            # contract: session.sample_now_literal docstring.
            from datachecker_spark.session import sample_now_literal

            now = sample_now_literal()
        now_c = F.lit(now).cast("timestamp")
        cutoff = now_c - F.expr(f"INTERVAL {int(max_age_days)} DAYS")
        newest = F.greatest(*[F.col(c).cast("timestamp") for c in ts_present])
        any_future = F.lit(False)
        for c in ts_present:
            any_future = any_future | (F.col(c).cast("timestamp") > now_c)
        structs.append(
            _v(S.CHECK_FUTURE, SEV_ERROR, any_future,
               F.lit("timestamp in the future"))
        )
        structs.append(
            _v(S.CHECK_STALE, SEV_WARNING, ~any_future & (newest < cutoff),
               F.format_string("not modified in over %d days",
                               F.lit(int(max_age_days))))
        )
    if confidential:
        pats = conf.DEFAULT_PATTERNS if patterns is None else patterns
        engine = conf.resolve_engine(pats, "auto")
        flat = (
            F.col("_flat") if "_flat" in docs.columns
            else flattened_text("spans")
        )
        if engine == "expr":
            hit = conf.contains_any_expr(flat, pats)
        else:
            hit = conf.contains_any_udf(pats, engine=engine)(flat)
        structs.append(
            _v(conf.CHECK_NAME, SEV_WARNING, hit,
               F.lit("matched confidential pattern"))
        )
    if not structs:
        return None
    return _explode_violations(docs, structs)


def fused_ref_checks(
    docs: DataFrame,
    *,
    ref_path_length: bool = True,
    max_path_len: int = P.MAX_FULL_PATH_LEN,
    temp_refs: bool = True,
    legacy_refs: bool = True,
) -> DataFrame | None:
    """One media-ref explode for every per-ref check. The legacy
    description lookup is a 110-entry map literal (element_at returns NULL
    for absent keys), replacing the standalone check's broadcast join —
    same rows, zero join."""
    if not (ref_path_length or temp_refs or legacy_refs):
        return None
    r = P.ref_rows(docs)
    ref = F.col("ref")
    structs: list[Column] = []
    if ref_path_length:
        structs.append(
            _v(P.CHECK_REF_LEN, SEV_WARNING, F.length(ref) > max_path_len,
               F.format_string("ref path length %d > %d: %s",
                               F.length(ref), F.lit(max_path_len), ref))
        )
    if temp_refs:
        structs.append(
            _v(P.CHECK_TEMP, SEV_WARNING, P.temp_ref_expr(ref),
               F.concat(F.lit("temp/useless ref: "), ref))
        )
    if legacy_refs:
        legacy_map = F.create_map(
            *[F.lit(x) for kv in P.LEGACY_FORMATS.items() for x in kv]
        )
        ext = P._ext(ref)
        desc = F.element_at(legacy_map, ext)
        structs.append(
            _v(P.CHECK_LEGACY, SEV_WARNING, desc.isNotNull(),
               F.format_string("legacy format %s (%s): %s", ext, desc, ref))
        )
    return _explode_violations(r, structs)


def fused_span_checks(
    docs: DataFrame,
    *,
    kind_consistency: bool = True,
    json_spans: bool = True,
) -> DataFrame | None:
    """One posexplode for every per-span check.

    Reads the cached narrow `span_meta` column (annotate/span_meta_column)
    when present — the span-level checks then never decompress the full
    spans payload, which lets the runner exclude it from the cache. The
    fallback derives the identical five fields from the raw spans (direct
    callers on un-annotated frames; equality fused-vs-standalone is
    asserted in tests/test_fused.py)."""
    if not (kind_consistency or json_spans):
        return None
    if "span_meta" in docs.columns:
        s = docs.select(
            "doc_id", "part", F.posexplode("span_meta").alias("pos", "m")
        ).select("doc_id", "part", "pos", "m.*")
    else:
        s = docs.select(
            "doc_id", "part", F.posexplode("spans").alias("pos", "span")
        ).select(
            "doc_id",
            "part",
            "pos",
            F.col("span.kind").alias("kind"),
            P.implied_format(F.col("span.text")).alias("implied"),
            F.col("span.text").isNotNull().alias("has_text"),
            F.col("span.media_ref").isNotNull().alias("has_ref"),
            (
                (
                    (F.col("span.kind") == "json")
                    | ((F.col("span.kind") == "text") & F.col("span.text").startswith("{"))
                )
                & F.col("span.text").isNotNull()
                & F.from_json(F.col("span.text"), "map<string,string>").isNull()
            ).alias("bad_json"),
        )
    structs: list[Column] = []
    if kind_consistency:
        bad_kind = ~F.col("kind").isin(P.ALLOWED_KINDS) | F.col("kind").isNull()
        text_is_binary = (
            F.col("kind").isin("text", "json")
            & F.col("implied").isNotNull()
            & ~F.col("implied").isin("html")
        )
        media_has_text = (F.col("kind") == "media") & F.col("has_text")
        text_has_ref = (F.col("kind") == "text") & F.col("has_ref")
        reason = (
            F.when(bad_kind, F.format_string(
                "span %d: unknown kind '%s'", F.col("pos"), F.col("kind")))
            .when(text_is_binary, F.format_string(
                "span %d: declared %s but content is %s",
                F.col("pos"), F.col("kind"), F.col("implied")))
            .when(media_has_text, F.format_string(
                "span %d: media span carries inline text", F.col("pos")))
            .when(text_has_ref, F.format_string(
                "span %d: text span carries media_ref", F.col("pos")))
            .otherwise(F.lit(None))
        )
        structs.append(_v(P.CHECK_KIND, SEV_ERROR, reason.isNotNull(), reason))
    if json_spans:
        structs.append(
            _v(P.CHECK_JSON, SEV_ERROR, F.col("bad_json"),
               F.format_string("span %d: invalid JSON payload", F.col("pos")))
        )
    return _explode_violations(s, structs)
