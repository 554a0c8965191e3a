"""Verdict contract shared by every constraint.

The reference emits one stderr row per violation with a severity in
{OK, CHECK, WARNING, ERROR} plus a per-check Total
(/root/reference/src/print.zig:31-82). The engine's equivalent is relational:

violations: check, severity, doc_id, part, detail      (one row per offender)
metrics:    part, check, status(pass|fail), violation_count, docs_scanned

Per-partition pass/fail = no violation rows for (part, check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEV_OK = "OK"
SEV_CHECK = "CHECK"
SEV_WARNING = "WARNING"
SEV_ERROR = "ERROR"

VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("check", T.StringType(), False),
        T.StructField("severity", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("part", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
    ]
)

VIOLATION_COLS = [f.name for f in VIOLATIONS_SCHEMA.fields]


def as_violations(
    df: DataFrame, check: str, severity: str, detail=None
) -> DataFrame:
    """Project any offender DataFrame (must carry doc_id, part) into the
    violations contract."""
    detail_col = (
        F.lit(None).cast("string")
        if detail is None
        else (F.lit(detail) if isinstance(detail, str) else detail)
    )
    return df.select(
        F.lit(check).alias("check"),
        F.lit(severity).alias("severity"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("part").cast("string").alias("part"),
        detail_col.alias("detail"),
    )


def empty_violations(spark) -> DataFrame:
    return spark.createDataFrame([], schema=VIOLATIONS_SCHEMA)


def metrics_from_violations(
    violations: DataFrame,
    docs: DataFrame,
    checks: list[str],
    part_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-(part, check) verdict table. Partitions with zero violations for a
    check get an explicit pass row (the reference rewrites the header to OK
    when a check total is zero, /root/reference/src/print.zig:76-82).

    part_counts: optional pre-computed (part, docs_scanned) — the runner
    passes the partition profile's counts so the metrics pass does not
    re-scan the corpus."""
    spark = violations.sparkSession
    if part_counts is None:
        part_counts = docs.groupBy("part").agg(F.count("*").alias("docs_scanned"))
    checks_df = spark.createDataFrame([(c,) for c in checks], ["check"])
    grid = part_counts.crossJoin(F.broadcast(checks_df))
    vcounts = violations.groupBy(
        F.col("part").alias("_vpart"), F.col("check").alias("_vcheck")
    ).agg(F.count("*").alias("violation_count"))
    # null-safe on part: `=` never matches a null part's violations to its row
    on = F.col("part").eqNullSafe(F.col("_vpart")) & (F.col("check") == F.col("_vcheck"))
    return (
        grid.join(vcounts, on, "left")
        .withColumn("violation_count", F.coalesce("violation_count", F.lit(0)))
        .withColumn(
            "status",
            F.when(F.col("violation_count") > 0, F.lit("fail")).otherwise(F.lit("pass")),
        )
        .select("part", "check", "status", "violation_count", "docs_scanned")
    )
