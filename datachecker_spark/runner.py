"""Suite runner: evaluate every enabled constraint over ONE cached scan,
emit violations + per-partition metrics, checkpoint completed partitions to a
lineage table, and resume by excluding completed partitions from the scan.

This is the engine's analog of the reference's `core.run()` fixed-order
dispatcher + stat cache (/root/reference/src/modules/core.zig:197-241): the
reference walks the tree once and reuses the stat map across 21 checks; here
the docs DataFrame is persisted once and every constraint family reads the
cached relation — Catalyst collapses the shared projections, and each family
is otherwise an independent job over the same cache.

Resume contract (SURVEY.md §7 step 7 / FIXTURES "resume" family): lineage
rows (run_id, part, check, status, violation_count, docs_scanned,
completed_at) are written only AFTER the violations/metrics for those
partitions are durably written (write-then-commit ordering) — a crashed run
re-processes its last batch instead of losing it. On start, completed parts
are anti-joined out of the scan as a plan-level filter, which on a real
Iceberg table becomes partition pruning (completed partitions are never read).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from datachecker_spark import cache
from datachecker_spark import io as tio
from datachecker_spark.fingerprint import annotate
from datachecker_spark.constraints import (
    confidential,
    diraggs,
    drift,
    duplicates,
    fused,
    integrity,
    predicates,
    referential,
    stats,
    uniqueness,
)
from datachecker_spark.contract import metrics_from_violations


@dataclass
class SuiteConfig:
    """Declarative constraint-suite spec — the analog of the reference's
    config.json (src/config.zig:38-80). Toggles + thresholds + patterns."""

    duplicates: bool = True
    unique_ids: bool = True
    empty_docs: bool = True
    large_docs: bool = True
    large_doc_size: int = stats.DEFAULT_LARGE_DOC_SIZE
    name_rules: bool = True
    name_length: bool = True
    max_name_len: int = predicates.MAX_NAME_LEN
    # media_ref full-path length (stats.zig:231-239 fullPathSize)
    ref_path_length: bool = True
    max_path_len: int = predicates.MAX_FULL_PATH_LEN
    temp_refs: bool = True
    legacy_refs: bool = True
    kind_consistency: bool = True
    json_spans: bool = True
    confidential: bool = True
    confidential_patterns: list[str] = field(
        default_factory=lambda: list(confidential.DEFAULT_PATTERNS)
    )
    referential: bool = True
    integrity: bool = True
    # corpus-level missing-doc branch of integrity (expectation table spans
    # all partitions → only decidable against the full document set)
    integrity_missing: bool = True
    partition_sizes: bool = True
    max_items_per_partition: int = diraggs.DEFAULT_MAX_ITEMS
    drift: bool = True
    drift_alpha: float = 0.01
    # PSI monitoring score on the numeric drift column (drift.psi_drift):
    # the fixed-threshold complement of the significance-tested chi2/KS —
    # one extra reduction of the same cached column, built on the same
    # background drift thread. Enabled with `drift`; gate both with the
    # drift toggle (GLOBAL_FIELDS semantics apply to the whole family).
    drift_psi: bool = True
    psi_threshold: float = 0.2
    psi_per_octave: int = 4
    n_salts: int = 64
    # timestamp checks (stats.zig:165-187); `now` is a fixed plan literal.
    # None (default) = sample the wall clock ONCE per run_suite call — the
    # reference's sample-once-at-startup semantics (src/main.zig:399-403).
    # Tests/benches pin an explicit literal for deterministic verdicts.
    timestamps: bool = True
    timestamp_now: str | None = None
    max_age_days: int = stats.DEFAULT_MAX_AGE_DAYS
    # how intermediate results (violations union, drift aggregates, profile,
    # metrics, write-back) are materialized — the cluster-deploy seam:
    #   "local"    localCheckpoint: executor-resident blocks, lineage
    #              TRUNCATED — fastest, but blocks die with their executor
    #              (fine for local[N] and for clusters with no
    #              executor churn; the default).
    #   "reliable" checkpoint() under checkpoint_dir (HDFS/S3/DBFS on a real
    #              cluster): blocks survive any executor loss.
    #   "persist"  persist(MEMORY_AND_DISK)+count: lineage KEPT, so a lost
    #              block recomputes from source instead of failing the job —
    #              no shared storage needed, at the cost of possible
    #              branch recomputation after churn.
    checkpoint_mode: str = "local"
    checkpoint_dir: str | None = None

    # checks whose verdicts depend on the WHOLE corpus, not one partition:
    # a duplicate group or repeated doc_id can span partitions, and drift
    # compares partitions against each other. These cannot be resumed
    # per-partition — run_with_lineage recomputes them over the full input.
    GLOBAL_FIELDS = (
        "duplicates", "unique_ids", "drift", "drift_psi", "partition_sizes",
        "integrity_missing",
    )

    def local_only(self) -> "SuiteConfig":
        import dataclasses

        return dataclasses.replace(
            self, **{f: False for f in self.GLOBAL_FIELDS}
        )

    def global_only(self) -> "SuiteConfig":
        import dataclasses

        off = {
            f.name: False
            for f in dataclasses.fields(self)
            if f.type == "bool" and f.name not in self.GLOBAL_FIELDS
        }
        return dataclasses.replace(self, **off)

    def enabled_checks(self) -> list[str]:
        names = []
        if self.duplicates:
            names.append(duplicates.CHECK_NAME)
        if self.unique_ids:
            names.append(uniqueness.CHECK_NAME)
        if self.empty_docs:
            names.append(stats.CHECK_EMPTY)
        if self.large_docs:
            names.append(stats.CHECK_LARGE)
        if self.name_rules:
            names.append(predicates.CHECK_NAME_RULES)
        if self.name_length:
            names.append(predicates.CHECK_NAME_LEN)
        if self.ref_path_length:
            names.append(predicates.CHECK_REF_LEN)
        if self.temp_refs:
            names.append(predicates.CHECK_TEMP)
        if self.legacy_refs:
            names.append(predicates.CHECK_LEGACY)
        if self.kind_consistency:
            names.append(predicates.CHECK_KIND)
        if self.json_spans:
            names.append(predicates.CHECK_JSON)
        if self.confidential:
            names.append(confidential.CHECK_NAME)
        if self.referential:
            names.append(referential.CHECK_NAME)
        if self.integrity:
            names.append(integrity.CHECK_NAME)
        if self.integrity_missing:
            names.append(integrity.CHECK_MISSING)
        if self.partition_sizes:
            names += [diraggs.CHECK_MANY_ITEMS, diraggs.CHECK_ONE_ITEM, diraggs.CHECK_EMPTY_PART]
        if self.drift:
            names += [drift.CHECK_CHI2, drift.CHECK_KS]
            if self.drift_psi:
                names.append(drift.CHECK_PSI)
        if self.timestamps:
            names += [stats.CHECK_FUTURE, stats.CHECK_STALE]
        return names


def materializer(cfg: "SuiteConfig", spark: SparkSession):
    """df -> materialized df, per cfg.checkpoint_mode (see SuiteConfig)."""
    if cfg.checkpoint_mode == "local":
        return lambda df: df.localCheckpoint(eager=True)
    if cfg.checkpoint_mode == "reliable":
        if cfg.checkpoint_dir:
            spark.sparkContext.setCheckpointDir(cfg.checkpoint_dir)
        elif spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' needs checkpoint_dir "
                "(or a pre-set SparkContext checkpoint dir)"
            )
        return lambda df: df.checkpoint(eager=True)
    if cfg.checkpoint_mode == "persist":

        def _persist(df: DataFrame) -> DataFrame:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
            return df

        return _persist
    raise ValueError(f"unknown checkpoint_mode: {cfg.checkpoint_mode}")


@dataclass
class SuiteResult:
    violations: DataFrame
    metrics: DataFrame
    profile: DataFrame
    write_back: DataFrame | None  # integrity create-semantics rows

    def release(self, blocking: bool = False) -> int:
        """Unpersist the result checkpoint blocks (call when done reading).

        Required, not optional, in long-lived sessions: checkpoint blocks
        are never reclaimed by GC from Python (see cache.py), so a resume
        loop that drops SuiteResults without releasing pins one generation
        of blocks per pass. Returns the number of RDDs released.
        """
        return cache.release(
            self.violations, self.metrics, self.profile, self.write_back,
            blocking=blocking,
        )


def _cache_can_drop_spans(
    cfg: "SuiteConfig", expected_fingerprints: DataFrame | None
) -> bool:
    """True when no enabled branch reads the raw `spans` payload, so the
    suite cache can exclude it entirely. With the derived columns present
    every family reads narrow cached columns (`span_meta` covers the
    span-level checks); the one exception that still needs the raw array is
    an integrity expectation table using algorithms beyond xxhash64/sha256
    — those recompute the canonical string from spans
    (constraints/integrity._computed_column). The distinct-algo probe is a
    tiny aggregate on the expectation table (verify_integrity runs the same
    one).

    Dropping `spans` halves the cached text bytes (`_flat` stays the single
    text copy) — cache_fill writes less, the union job decompresses less,
    and the whole suite's bytes-per-doc demand on the memory bus falls
    (the binding constraint in BASELINE.md's scaling accounting)."""
    if cfg.integrity and expected_fingerprints is not None:
        algos = {
            r["algo"]
            for r in expected_fingerprints.select("algo").distinct().collect()
            if r["algo"]
        }
        if any(a not in ("xxhash64", "sha256") for a in algos):
            return False
    return True


def run_suite(
    docs: DataFrame,
    *,
    media_catalog: DataFrame | None = None,
    expected_fingerprints: DataFrame | None = None,
    expected_parts: DataFrame | None = None,
    config: SuiteConfig | None = None,
    timings: dict | None = None,
) -> SuiteResult:
    """Evaluate all enabled constraints; docs is scanned once (persisted).

    The scan is annotated with the derived columns every branch needs
    (fingerprint, content key, size, span count, flattened text —
    fingerprint.annotate) BEFORE persisting, and the cache is populated
    eagerly with one count(). Two reasons, both measured:

    * the derived expressions are higher-order functions that Spark
      evaluates interpreted (outside codegen, heavy per-row allocation);
      re-deriving them in each of the ~18 union branches collapsed
      multi-core scaling (local[32] ran 2.3x SLOWER than local[8]);
    * without eager population the union's independent branch stages are
      submitted concurrently and race on the uncached partitions — tasks
      block on each other's in-flight cache writes instead of streaming.

    This is the reference's stat-cache idea — walk once, reuse
    (/root/reference/src/modules/core.zig:225-241) — applied to derived
    columns, not just rows."""
    cfg = config or SuiteConfig()
    mat = materializer(cfg, docs.sparkSession)
    t = timings if timings is not None else {}
    t0 = time.perf_counter()
    docs = annotate(docs)
    if "spans" in docs.columns and _cache_can_drop_spans(cfg, expected_fingerprints):
        docs = docs.drop("spans")
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    # drift + profile + integrity run on this pool (see below). A failure
    # anywhere in the pass must not strand the corpus cache or a background
    # job's blocks in a long-lived session: the except branch waits for
    # every submitted job, releases what each materialized, and re-raises.
    pool = ThreadPoolExecutor(max_workers=3)
    futs: list[Future] = []
    # drift's internal obs/counts checkpoints are consumed entirely within
    # this call — track them so they're released (cache.py: GC never
    # reclaims checkpoint blocks from Python) as soon as the final drift
    # block exists. Only the drift future's thread appends; no lock needed.
    drift_intermediates: list[DataFrame] = []
    violations = None
    try:
        docs.count()
        t["cache_fill"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()

        parts: list[DataFrame] = []
        if cfg.duplicates:
            parts.append(duplicates.check_duplicates(docs, n_salts=cfg.n_salts))
        if cfg.unique_ids:
            parts.append(uniqueness.check_unique_ids(docs, n_salts=cfg.n_salts))
        has_ts = any(c in docs.columns for c in ("ingest_ts", "modified_ts"))
        # sample 'now' once per run (reference: once at process startup,
        # src/main.zig:399-403) unless the config pins a literal — a
        # current_timestamp() column would re-evaluate per task/batch
        now = cfg.timestamp_now
        if cfg.timestamps and has_ts and now is None:
            from datachecker_spark.session import sample_now_literal

            now = sample_now_literal()
        # eleven row-level checks as THREE scans (constraints/fused.py) —
        # the reference's stat-cache design (core.zig:225-241) applied to
        # the checks themselves: one walk per granularity, not per check
        parts.extend(
            df
            for df in (
                fused.fused_doc_checks(
                    docs,
                    empty_docs=cfg.empty_docs,
                    large_docs=cfg.large_docs,
                    large_doc_size=cfg.large_doc_size,
                    name_rules=cfg.name_rules,
                    name_length=cfg.name_length,
                    max_name_len=cfg.max_name_len,
                    timestamps=cfg.timestamps and has_ts,
                    now=now,
                    max_age_days=cfg.max_age_days,
                    confidential=cfg.confidential,
                    patterns=cfg.confidential_patterns,
                ),
                fused.fused_ref_checks(
                    docs,
                    ref_path_length=cfg.ref_path_length,
                    max_path_len=cfg.max_path_len,
                    temp_refs=cfg.temp_refs,
                    legacy_refs=cfg.legacy_refs,
                ),
                fused.fused_span_checks(
                    docs,
                    kind_consistency=cfg.kind_consistency,
                    json_spans=cfg.json_spans,
                ),
            )
            if df is not None
        )
        if cfg.referential and media_catalog is not None:
            parts.append(referential.check_media_refs(docs, media_catalog))
        write_back = None
        if cfg.integrity_missing and expected_fingerprints is not None:
            parts.append(integrity.check_missing_expectations(docs, expected_fingerprints))
        if cfg.partition_sizes:
            parts.append(
                diraggs.check_partition_sizes(
                    docs, expected_parts=expected_parts, max_items=cfg.max_items_per_partition
                )
            )

        # drift + profile run CONCURRENTLY with the main violations job on
        # background threads (Spark job submission is thread-safe; this is what
        # a cluster's scheduler does naturally when independent jobs are
        # queued). Rationale, measured at 2M docs: drift's builders fire
        # small driver-blocking jobs (their aggregate checkpoints) and the
        # profile is another; run inline they serialize
        # into a core-count-independent ~O(10s) floor per pass — the largest
        # engine-owned term in the round-2 N→4N scaling gap. Overlapped, their
        # tasks fill scheduler gaps in the big union job and the driver's
        # critical path never blocks on them.
        drift_fut = None
        if cfg.drift:
            # both drift inputs are materialized derived columns — the drift
            # aggregations read two cached int columns, never the span payloads
            def _mat_track(d: DataFrame) -> DataFrame:
                d = mat(d)
                drift_intermediates.append(d)
                return d

            def _drift_job():
                s0 = time.perf_counter()
                has_media = (F.col("n_media") > 0).cast("int")
                d = drift.check_drift(
                    docs, categorical=has_media, numeric=F.col("size"),
                    alpha=cfg.drift_alpha, psi=cfg.drift_psi,
                    psi_threshold=cfg.psi_threshold,
                    psi_per_octave=cfg.psi_per_octave, materialize=_mat_track,
                )
                d = mat(d)
                t["drift_total"] = round(time.perf_counter() - s0, 2)
                return d

            drift_fut = pool.submit(_drift_job)
            futs.append(drift_fut)

        # profile's per-part doc counts feed the metrics grid so the metrics
        # pass never re-scans the corpus
        def _profile_job():
            s0 = time.perf_counter()
            p = mat(stats.partition_profile(docs))
            t["profile_total"] = round(time.perf_counter() - s0, 2)
            return p

        profile_fut = pool.submit(_profile_job)
        futs.append(profile_fut)

        # integrity runs like drift: a background job whose expectation join +
        # hash compute is materialized ONCE (verify_integrity's materialize
        # seam), with the violation rows AND write_back derived from the same
        # block. Previously the violations union computed the join once and
        # mat(write_back) re-ran it SERIALLY after the union — a
        # level-independent ~4-7s tail at 4M docs that capped N→4N efficiency
        # (Amdahl), and 2× the join work. The join block is released inside the
        # job once both outputs are materialized.
        integrity_fut = None
        if cfg.integrity and expected_fingerprints is not None:

            def _integrity_job():
                s0 = time.perf_counter()
                blocks: list[DataFrame] = []

                def _mt(d: DataFrame) -> DataFrame:
                    d = mat(d)
                    blocks.append(d)
                    return d

                try:
                    v, wb = integrity.verify_integrity(
                        docs, expected_fingerprints, include_missing=False,
                        materialize=_mt,
                    )
                    v, wb = mat(v), mat(wb)
                finally:
                    cache.release(*blocks)
                t["integrity_total"] = round(time.perf_counter() - s0, 2)
                return v, wb

            integrity_fut = pool.submit(_integrity_job)
            futs.append(integrity_fut)

        t["branch_build"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        # drift-only configs leave the branch list empty — the violations union
        # then consists solely of the drift future's block
        if parts:
            violations = parts[0]
            for p in parts[1:]:
                violations = violations.unionByName(p)
        # the union of ~18 branches carries one output partition per branch
        # partition (branches × shuffle.partitions ≈ thousands of tiny tasks);
        # in local mode the driver's single-threaded scheduler at ~ms/task then
        # dominates wall time and caps scaling (measured: the union job flat at
        # ~20s from 8→32 cores while the content pass scaled 2.3×). Coalesce to
        # a small multiple of the executor count: still ≥2 waves of parallelism,
        # 64× fewer task launches. (narrow — no extra shuffle)
        # 4× (not 2×): the coalesced tasks are UNEVEN — each fuses different
        # branch mixes — and stage-level instrumentation at 8 cores showed the
        # checkpoint stage's 16-task/2-wave shape leaving a straggler tail
        # (utilization 0.79); 4 waves of half-size tasks smooth it while task
        # launches stay ~100× below the un-coalesced flood
        n_out = max(4 * docs.sparkSession.sparkContext.defaultParallelism, 16)
        if violations is not None:
            violations = violations.coalesce(n_out)
        # violations feed both the sink and the metrics aggregation. Materialize
        # the (small) result ONCE, eagerly, through the configured seam
        # (localCheckpoint by default: truncates the 18-branch union lineage so
        # the sink write and the metrics aggregation both read materialized
        # rows). (A lazy .persist() is unreliable here — when the first action
        # is a DataFrame *write*, the cache is not populated and the metrics
        # pass re-evaluated every branch, doubling suite wall time with high
        # variance; the "persist" mode counts eagerly for the same reason.)
        if violations is not None:
            violations = mat(violations)
        t["union_mat"] = round(time.perf_counter() - t0, 2)
        if drift_fut is not None:
            # both sides are materialized blocks; the union itself is lazy and
            # cheap to re-read from the sink write AND the metrics aggregation
            d = drift_fut.result()
            violations = d if violations is None else violations.unionByName(d)
            # the final drift block is materialized — its obs/counts inputs
            # are now pure insurance against a recomputation that can't happen
            cache.release(*drift_intermediates)
        if integrity_fut is not None:
            iv, write_back = integrity_fut.result()
            violations = iv if violations is None else violations.unionByName(iv)
        if violations is None:  # every family disabled: empty, stable schema
            from datachecker_spark.contract import empty_violations

            violations = mat(empty_violations(docs.sparkSession))
        t["violations_job"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()

        # metrics/profile are per-partition-sized; materialize them eagerly too so
        # the annotated cache can be released before returning (no cache leak
        # across repeated run_suite calls in a long-lived session). Cluster
        # deploys that expect executor churn set checkpoint_mode="reliable"
        # (+ checkpoint_dir) or "persist" — see SuiteConfig.
        checks = cfg.enabled_checks()
        if cfg.timestamps and not has_ts:
            # ts columns absent from this input — drop the never-evaluated
            # checks from the metrics grid instead of reporting a vacuous pass
            checks = [
                c for c in checks if c not in (stats.CHECK_FUTURE, stats.CHECK_STALE)
            ]
        profile = profile_fut.result()
        pool.shutdown()
        metrics = metrics_from_violations(
            violations,
            docs,
            checks,
            part_counts=profile.select("part", F.col("n_docs").alias("docs_scanned")),
        )
        s0 = time.perf_counter()
        metrics = mat(metrics)
        t["metrics_mat"] = round(time.perf_counter() - s0, 2)
        # blocking: a lazy unpersist leaves the old cache resident while the
        # next run_suite call populates a fresh one — at high corpus sizes the
        # overlap pushed the heap to its limit and collapsed into full-GC
        # thrashing (measured: 32-core worker at 4M docs stuck at <40% of one
        # core with RSS pinned at the heap cap)
        s0 = time.perf_counter()
        docs.unpersist(blocking=True)
        t["unpersist"] = round(time.perf_counter() - s0, 2)
        t["metrics_profile"] = round(time.perf_counter() - t0, 2)
        return SuiteResult(violations, metrics, profile, write_back)
    except BaseException:
        pool.shutdown(wait=True)
        for f in futs:
            if f.exception() is None:
                r = f.result()
                cache.release(*(r if isinstance(r, tuple) else (r,)))
        cache.release(violations, *drift_intermediates)
        docs.unpersist(blocking=True)
        raise


# --------------------------------------------------------------------------
# Checkpointed run with lineage + resume
# --------------------------------------------------------------------------


def completed_parts(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    lin = tio.read_table(spark, lineage_path)
    if lin is None:
        return None
    return lin.where(F.col("status") == "done").select("part").distinct()


def run_with_lineage(
    docs: DataFrame,
    output_dir: str,
    *,
    run_id: str,
    media_catalog: DataFrame | None = None,
    expected_fingerprints: DataFrame | None = None,
    expected_parts: DataFrame | None = None,
    expectations_path: str | None = None,
    config: SuiteConfig | None = None,
) -> dict:
    """Checkpointed suite run.

    Partition-LOCAL checks: partitions already marked done in
    {output_dir}/lineage are excluded from the scan (anti-join = plan-level
    filter = partition pruning on a partitioned table); results append to
    {output_dir}/violations + metrics. Violations/metrics are written BEFORE
    the lineage rows (write-then-commit ordering), so a crash re-processes
    the last batch instead of losing it.

    GLOBAL checks (duplicates, unique_ids, drift, partition_sizes — see
    SuiteConfig.GLOBAL_FIELDS) are recomputed over the FULL input whenever
    any partition is new, and their outputs land in
    {output_dir}/violations_global + metrics_global with mode=overwrite:
    a duplicate group spanning an old and a new partition is only visible to
    a full-corpus pass. Total verdicts = union of both table pairs.

    expectations_path: the live integrity-expectation table. When set, it is
    read as the expectation input (unless expected_fingerprints overrides),
    and the run's create-semantics rows (SuiteResult.write_back) are MERGED
    back into it — Iceberg MERGE INTO when the runtime is present, staged
    parquet read-union-overwrite otherwise (io.merge_expectations; the
    reference writes the sidecar in place, integrity.zig:172-180). The merge
    lands BEFORE the lineage commit, in the same write-then-commit ordering
    as the verdict tables: a crash between merge and commit re-runs the
    batch, and the upsert-by-key re-merge is idempotent.

    Returns {"parts_processed": n, "parts_skipped": m, "expectations_merged": k}.
    """
    spark = docs.sparkSession
    cfg = config or SuiteConfig()
    if expectations_path is not None and expected_fingerprints is None:
        expected_fingerprints = tio.read_table(spark, expectations_path)
    lineage_path = f"{output_dir}/lineage"
    done = completed_parts(spark, lineage_path)
    todo = docs
    n_skipped = 0
    if done is not None:
        n_skipped = done.count()
        todo = docs.join(F.broadcast(done), "part", "left_anti")

    todo = todo.persist(StorageLevel.MEMORY_AND_DISK)
    todo_parts = [r["part"] for r in todo.select("part").distinct().collect()]
    if not todo_parts:
        todo.unpersist()
        out = {"parts_processed": 0, "parts_skipped": n_skipped}
        if expectations_path is not None:
            out["expectations_merged"] = 0
        return out

    # 1. partition-local constraints over the incomplete partitions only
    res = run_suite(
        todo,
        media_catalog=media_catalog,
        expected_fingerprints=expected_fingerprints,
        config=cfg.local_only(),
    )
    tio.write_table(
        res.violations, f"{output_dir}/violations", mode="append", partition_by=["part"]
    )
    tio.write_table(res.metrics, f"{output_dir}/metrics", mode="append")
    tio.write_table(res.profile, f"{output_dir}/profile", mode="append")

    # 2. global constraints over the full corpus (overwrite: latest full view)
    gcfg = cfg.global_only()
    if gcfg.enabled_checks():
        gres = run_suite(
            docs,
            expected_parts=expected_parts,
            expected_fingerprints=expected_fingerprints,
            config=gcfg,
        )
        tio.write_table(gres.violations, f"{output_dir}/violations_global", mode="overwrite")
        tio.write_table(gres.metrics, f"{output_dir}/metrics_global", mode="overwrite")
        gres.release()

    # 2b. expectation write-back, AFTER the last read of the pre-merge
    # snapshot (the global pass's missing-expectation check) and BEFORE the
    # lineage commit — write-then-commit ordering, and the upsert-by-key
    # re-merge after a crash-replay is idempotent. write_back is a
    # materialized block, so the merge never re-triggers the corpus scan.
    n_merged = 0
    if expectations_path is not None and res.write_back is not None:
        n_merged = tio.merge_expectations(spark, expectations_path, res.write_back)

    # 3. commit point: lineage written last
    lineage_rows = res.metrics.groupBy("part").agg(
        F.sum("violation_count").alias("violation_count"),
        F.max("docs_scanned").alias("docs_scanned"),
    ).select(
        F.lit(run_id).alias("run_id"),
        "part",
        F.lit("suite").alias("check"),
        F.lit("done").alias("status"),
        "violation_count",
        "docs_scanned",
        F.lit(time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())).alias("completed_at"),
    )
    tio.write_table(lineage_rows, lineage_path, mode="append")
    # lineage derives from res.metrics (a materialized block) — release
    # only after the commit write; this is the resume loop where unreleased
    # blocks would otherwise accumulate one generation per batch
    res.release()
    todo.unpersist()
    out = {"parts_processed": len(todo_parts), "parts_skipped": n_skipped}
    if expectations_path is not None:
        out["expectations_merged"] = n_merged
    return out
