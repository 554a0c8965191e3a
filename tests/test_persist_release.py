"""Every cache the engine takes must drain back to zero (VERDICT r2 #7).

Why explicit release exists at all: the documented Spark path — drop the
Dataset, ContextCleaner reclaims the checkpoint blocks via weak refs — is
DEAD from PySpark.  Repro (pyspark 4.1, ClientServer gateway): create
`spark.range(100).localCheckpoint(eager=True)`, drop every Python
reference, then run 15 rounds of paired `gc.collect()` +
`jvm.System.gc()` — the block never drains.  So in a long-lived session
(the 10^12-doc deployment mode: a resume loop re-entering run_suite per
partition batch) each pass would pin one more generation of blocks until
executors OOM.  The engine therefore releases deterministically
(datachecker_spark/cache.py), and these tests assert exact block
accounting at each lifecycle point — no GC, no polling, no timeouts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachecker_spark import cache
from datachecker_spark.datagen import generate_documents
from datachecker_spark.fingerprint import annotate
from datachecker_spark.runner import SuiteConfig, run_suite
from datachecker_spark.textops import minhash_near_dup_pairs


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_suite_releases_to_zero(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    docs = generate_documents(spark, 400, dup_rate=0.1, seed=7)
    base = _n_persistent(spark)

    res = run_suite(docs, config=SuiteConfig(referential=False, integrity=False))
    # while the caller holds the results, ONLY the result blocks are
    # resident: violations (main block + drift block inside the union),
    # metrics, profile. The corpus persist and drift's reduction
    # checkpoint must already be gone — run_suite freed them itself.
    held = _n_persistent(spark) - base
    assert held == 4, f"expected 4 result blocks resident, got {held}"

    # consume the results the way a caller would, then dispose
    res.violations.count()
    res.metrics.count()
    res.profile.count()
    n = res.release()
    assert n == 4, f"release() freed {n} blocks, expected 4"
    assert _n_persistent(spark) == base

    # idempotent: a second release is a no-op
    assert res.release() == 0


def test_run_suite_no_drift_releases_to_zero(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    docs = generate_documents(spark, 300, dup_rate=0.1, seed=3)
    base = _n_persistent(spark)
    res = run_suite(
        docs,
        config=SuiteConfig(referential=False, integrity=False, drift=False),
    )
    res.violations.count()
    held = _n_persistent(spark) - base
    assert held == 3, f"expected 3 result blocks (no drift), got {held}"
    res.release()
    assert _n_persistent(spark) == base


def test_run_suite_failure_releases_to_zero(spark, monkeypatch):
    """A run_suite pass that raises releases the corpus cache and every
    block its background jobs made before re-raising: once while the
    branches are built (a media catalog without the join column), once
    inside the drift job while the union and profile jobs run."""
    from pyspark.errors import AnalysisException

    from datachecker_spark.constraints import drift
    from datachecker_spark.datagen import generate_expected_fingerprints

    cache.release_all(spark)
    docs = generate_documents(spark, 300, dup_rate=0.1, seed=5)
    base = _n_persistent(spark)
    with pytest.raises(AnalysisException):
        run_suite(docs, media_catalog=spark.range(3))
    assert _n_persistent(spark) == base

    def boom(*args, **kwargs):
        raise RuntimeError("drift failed")

    expected = generate_expected_fingerprints(docs)
    monkeypatch.setattr(drift, "check_drift", boom)
    with pytest.raises(RuntimeError, match="drift failed"):
        run_suite(docs, expected_fingerprints=expected)
    assert _n_persistent(spark) == base


def test_minhash_releases_shingle_checkpoint(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    flat = annotate(generate_documents(spark, 300, dup_rate=0.2, seed=11)).select(
        "doc_id", F.col("_flat").alias("text")
    )
    base = _n_persistent(spark)
    pairs = minhash_near_dup_pairs(flat, threshold=0.6)
    pairs.count()
    # the lazy localCheckpoint of the shingle sets is now materialized and
    # reachable as a LogicalRDD leaf of the returned plan
    assert _n_persistent(spark) - base == 1
    n = cache.release(pairs)
    assert n == 1
    assert _n_persistent(spark) == base


def test_minhash_persist_mode_seam(spark):
    """VERDICT r3 #3: textops accepts the runner's materializer, so cluster
    deploys get reliable/persist semantics through the SAME seam drift uses.
    Under checkpoint_mode='persist' the intermediate is a persisted Dataset
    (InMemoryRelation, NOT a LogicalRDD leaf), so the hook tracks it and the
    caller releases the tracked handle — exact block accounting."""
    from datachecker_spark.runner import materializer
    from datachecker_spark.textops import ngram_jaccard_pairs

    cache.release_all(spark)
    flat = annotate(generate_documents(spark, 300, dup_rate=0.2, seed=11)).select(
        "doc_id", F.col("_flat").alias("text")
    )
    base = _n_persistent(spark)
    mat = materializer(SuiteConfig(checkpoint_mode="persist"), spark)
    tracked: list = []

    def mat_track(d):
        d = mat(d)
        tracked.append(d)
        return d

    pairs = minhash_near_dup_pairs(flat, threshold=0.6, materialize=mat_track)
    expected = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert len(tracked) == 1
    assert _n_persistent(spark) - base == 1  # the persisted shingle sets
    assert cache.release(*tracked) == 1
    assert _n_persistent(spark) == base

    # same result as the default localCheckpoint path
    default_pairs = minhash_near_dup_pairs(flat, threshold=0.6)
    assert {(r["id_a"], r["id_b"]) for r in default_pairs.collect()} == expected
    cache.release(default_pairs)

    # ngram path: hashed production config under the persist seam
    tracked.clear()
    out = ngram_jaccard_pairs(
        flat, threshold=0.2, hash_shingles=True, materialize=mat_track
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # two hooked materializations: the exploded shingle table and the
    # sorted per-doc array table of the prefix filter
    assert len(tracked) == 2 and _n_persistent(spark) - base == 2
    assert cache.release(*tracked) == 2
    assert _n_persistent(spark) == base
    assert got >= expected  # exact-jaccard superset sanity (no LSH pruning)
