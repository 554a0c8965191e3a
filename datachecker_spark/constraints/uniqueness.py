"""doc_id uniqueness (SURVEY.md §7 step 3).

Same salted two-phase aggregation as the duplicate check — a hot duplicate id
(ingestion bug replaying one document) must not hot-spot a single reducer.
Violations are emitted by joining the (small) offending-id set back to the
stream: one ERROR row per physical row carrying a non-unique doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datachecker_spark.contract import SEV_ERROR, as_violations

CHECK_NAME = "unique_doc_id"


def duplicate_ids(docs: DataFrame, *, n_salts: int = 64) -> DataFrame:
    """(doc_id, id_count) for every doc_id appearing more than once."""
    salt = F.pmod(F.xxhash64(F.col("part"), F.monotonically_increasing_id()), F.lit(n_salts))
    partial = docs.groupBy("doc_id", salt.alias("_salt")).agg(F.count("*").alias("_cnt"))
    return (
        partial.groupBy("doc_id")
        .agg(F.sum("_cnt").alias("id_count"))
        .where(F.col("id_count") > 1)
    )


def check_unique_ids(docs: DataFrame, *, n_salts: int = 64) -> DataFrame:
    dups = duplicate_ids(docs, n_salts=n_salts).withColumnRenamed("doc_id", "_dup_id")
    # null-safe: repeated null ids form a group too, and `=` never matches null
    members = docs.select("doc_id", "part").join(
        dups, F.col("doc_id").eqNullSafe(F.col("_dup_id")), "inner"
    )
    detail = F.format_string("doc_id occurs %d times", F.col("id_count"))
    return as_violations(members, CHECK_NAME, SEV_ERROR, detail)
