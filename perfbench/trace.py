"""Traced run: per-layer numbers measured from outside the engine.

Runs after a run's untraced passes, in the same session, and adds:

* one traced workload pass: spans around the calls into the engine, the
  runner's phase split from ``run_suite(timings=...)``, and timing wrappers
  on the public ``io`` functions while the pass runs;
* layer probes: each layer's public function called in the foreground over
  one cached annotated corpus, its lazy output forced to a noop sink;
* Spark's event log (enabled through ``extra_conf``), read back after the
  session stops, for task CPU, GC, shuffle and spill per layer label. Each
  span sets its layer as the job group; jobs submitted from the runner's
  background threads carry no group and take the label of the innermost
  span open when they were submitted;
* for dedup, DuckDB's count of the bigrams max_df drops and of the doc
  pairs sharing a kept bigram (textops.hot_shingles,
  textops.shared_pairs): textops.pairs_out / textops.shared_pairs is the
  share of the unpruned join's candidates that reach the threshold.

Spans (name, layer, start, end, parent) are kept in memory and written to
.perfbench_work/trace/ with the metrics and LAYER_MAP when the run ends.
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from perfbench import host, inputs

LAYERS = (
    "fingerprint", "fused", "confidential", "duplicates", "uniqueness", "drift",
    "integrity", "stats", "contract", "runner", "io", "textops", "graph",
)
LABEL_METRICS = (
    ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)

# name -> unit, in output order; every traced run prints all of them
METRICS = {
    "session.start_s": "s",
    "fingerprint.annotate_s": "s", "fingerprint.cache_mb": "MB",
    "fused.doc_s": "s", "fused.ref_s": "s", "fused.span_s": "s", "fused.rows_out": "count",
    "confidential.scan_s": "s", "confidential.python_cpu_s": "s",
    "duplicates.check_s": "s", "uniqueness.check_s": "s",
    "drift.check_s": "s", "drift.jobs": "count",
    "integrity.verify_s": "s", "stats.profile_s": "s", "contract.metrics_s": "s",
    "runner.cache_fill_s": "s", "runner.branch_build_s": "s", "runner.union_mat_s": "s",
    "runner.metrics_mat_s": "s", "runner.bg_wait_s": "s", "runner.phase_coverage": "ratio",
    "io.write_s": "s", "io.merge_s": "s", "io.files_written": "count",
    "io.bytes_written_mb": "MB",
    "textops.pairs_s": "s", "textops.pairs_out": "count",
    "textops.hot_shingles": "count", "textops.shared_pairs": "count",
    "graph.cc_s": "s", "graph.cc_checkpoints": "count", "graph.keep_s": "s",
    "graph.clusters": "count",
    "cache.blocks_after_release": "count", "cache.release_s": "s",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s", "proc.util": "ratio",
    "jvm.gc_s": "s", "jvm.gc_count": "count",
    "trace.overhead": "ratio", "trace.spans": "count",
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in LABEL_METRICS},
}

# which end-to-end metric each layer should move, and on which workload
LAYER_MAP = {
    "session": "setup_s on every workload",
    "fingerprint": "docs_per_s, cpu_ms_per_doc, peak_mem_mb on suite_full and "
                   "resume_lineage; no move on dedup_pipeline",
    "fused": "docs_per_s on suite_full",
    "confidential": "cpu_ms_per_doc on suite_full",
    "duplicates": "suite_full, and the global pass of resume_lineage",
    "uniqueness": "suite_full, and the global pass of resume_lineage",
    "drift": "cpu_ms_per_doc on suite_full; docs_per_s only while it outlasts the union job",
    "integrity": "cpu_ms_per_doc on suite_full; docs_per_s only while it outlasts the union job",
    "stats": "cpu_ms_per_doc on suite_full; docs_per_s only while it outlasts the union job",
    "contract": "docs_per_s on suite_full",
    "runner": "docs_per_s on suite_full",
    "io": "docs_per_s on resume_lineage; zero on suite_full",
    "textops": "docs_per_s and cpu_ms_per_doc on dedup_pipeline",
    "graph": "docs_per_s and cpu_ms_per_doc on dedup_pipeline",
    "cache": "peak_mem_mb on every workload",
    "proc/jvm": "cpu_ms_per_doc on every workload",
}


def event_log_conf(work: str) -> dict[str, str]:
    """Event log settings for a traced session; clears earlier runs' logs."""
    d = os.path.join(work, "eventlog")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + d,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans kept in memory; each span labels the jobs it submits."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", layer)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur_s"] = rec["end"] - rec["start"]
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)

    def label_at(self, t_ms: int) -> str | None:
        """Layer of the innermost span open at t_ms (epoch milliseconds)."""
        best = None
        for s in self.spans:
            if s["start"] * 1000 <= t_ms <= s.get("end", float("inf")) * 1000:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["layer"] if best else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _eager(d):
    return d.localCheckpoint(eager=True)


class _Tracked:
    """Materializer that checkpoints like the runner's default seam and
    remembers each block, so the probe can release what it made."""

    def __init__(self, eager: bool):
        self.eager, self.blocks = eager, []

    def __call__(self, d):
        d = d.localCheckpoint(eager=self.eager)
        self.blocks.append(d)
        return d


# ---------------------------------------------------------------------------
# traced workload passes
# ---------------------------------------------------------------------------


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


@contextmanager
def _io_wrapped(tr: Tracer, m: dict):
    """Time and count every write_table / merge_expectations call made
    through the io module while the block runs."""
    from datachecker_spark import io as tio

    orig = {"write_table": tio.write_table, "merge_expectations": tio.merge_expectations}

    def wrap(fname: str, metric: str):
        def inner(*a, **kw):
            path = a[1]  # both take the table path second
            before = _files(path)
            with tr.span(f"io.{fname}", "io") as s:
                r = orig[fname](*a, **kw)
            new = {p: n for p, n in _files(path).items() if p not in before}
            m[metric] += s["dur_s"]
            m["io.files_written"] += len(new)
            m["io.bytes_written_mb"] += sum(new.values()) / 2**20
            return r

        return inner

    tio.write_table = wrap("write_table", "io.write_s")
    tio.merge_expectations = wrap("merge_expectations", "io.merge_s")
    try:
        yield
    finally:
        tio.write_table = orig["write_table"]
        tio.merge_expectations = orig["merge_expectations"]


def _runner_split(t: dict, m: dict) -> None:
    m["runner.cache_fill_s"] += t["cache_fill"]
    m["runner.branch_build_s"] += t["branch_build"]
    m["runner.union_mat_s"] += t["union_mat"]
    m["runner.metrics_mat_s"] += t["metrics_mat"]
    m["runner.bg_wait_s"] += t["violations_job"] - t["union_mat"]


def _phase_sum(m: dict) -> float:
    return sum(
        m[f"runner.{p}_s"]
        for p in ("cache_fill", "branch_build", "union_mat", "bg_wait", "metrics_mat")
    )


def _trace_suite(tr, wl, h, m) -> tuple[float, object]:
    t: dict = {}
    with tr.span("run_suite", "runner") as s:
        res = wl.run(h, timings=t)
    try:
        obs = wl.observe(res)
    finally:
        wl.release(res)
    _runner_split(t, m)
    m["runner.phase_coverage"] = _phase_sum(m) / s["dur_s"]
    return s["dur_s"], obs


def _trace_resume(tr, wl, h, m) -> tuple[float, object]:
    from datachecker_spark import runner

    orig = runner.run_suite

    def timed_run_suite(*a, **kw):
        t: dict = {}
        with tr.span("run_suite", "runner"):
            r = orig(*a, **dict(kw, timings=t))
        _runner_split(t, m)
        return r

    runner.run_suite = timed_run_suite
    try:
        with _io_wrapped(tr, m), tr.span("run_with_lineage", "runner") as s:
            info = wl.run(h)
    finally:
        runner.run_suite = orig
    m["runner.phase_coverage"] = _phase_sum(m) / s["dur_s"]
    return s["dur_s"], wl.observe(info)


def _trace_dedup(tr, wl, h, m) -> tuple[float, object]:
    from datachecker_spark import cache

    docs = h["documents"]
    cc = _Tracked(eager=False)
    with tr.span("dedup", "graph") as s:
        with tr.span("ngram_jaccard_pairs", "textops"):
            raw = wl.pairs(docs)
            pairs = _eager(raw)
        with tr.span("dedup_clusters", "graph"):
            clusters = _eager(wl.clusters(pairs, materialize=cc))
        with tr.span("keep_canonical", "graph"):
            ids = wl.kept_ids(docs, clusters)
    m["textops.pairs_s"] = tr.total("ngram_jaccard_pairs")
    m["graph.cc_s"] = tr.total("dedup_clusters")
    m["graph.keep_s"] = tr.total("keep_canonical")
    m["graph.cc_checkpoints"] = len(cc.blocks)
    m["textops.pairs_out"] = pairs.count()
    m.update({f"textops.{k}": v for k, v in inputs.shingle_stats(wl.corpus).items()})
    m["graph.clusters"] = clusters.select("cluster_id").distinct().count()
    cache.release(raw, pairs, clusters, *cc.blocks, blocking=True)
    return s["dur_s"], ids


# ---------------------------------------------------------------------------
# layer probes over one cached annotated corpus (suite layers)
# ---------------------------------------------------------------------------


def _probe_suite_layers(spark, tr, wl, h, m) -> None:
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from datachecker_spark import cache
    from datachecker_spark.constraints import (
        confidential, drift, duplicates, fused, integrity, stats, uniqueness,
    )
    from datachecker_spark.contract import metrics_from_violations
    from datachecker_spark.fingerprint import annotate

    cfg = wl.config()
    with tr.span("annotate", "fingerprint"):
        a = annotate(h["documents"]).drop("spans").persist(StorageLevel.MEMORY_AND_DISK)
        a.count()
    m["fingerprint.annotate_s"] = tr.total("annotate")
    m["fingerprint.cache_mb"] = sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ) / 2**20

    fused_out = {
        "doc": fused.fused_doc_checks(
            a, large_doc_size=cfg.large_doc_size, max_name_len=cfg.max_name_len,
            timestamps=True, now=inputs.NOW, max_age_days=cfg.max_age_days,
            patterns=cfg.confidential_patterns,
        ),
        "ref": fused.fused_ref_checks(a, max_path_len=cfg.max_path_len),
        "span": fused.fused_span_checks(a),
    }
    for k, df in fused_out.items():
        with tr.span(f"fused_{k}_checks", "fused") as s:
            _noop(df)
        m[f"fused.{k}_s"] = s["dur_s"]
    union = fused_out["doc"].unionByName(fused_out["ref"]).unionByName(fused_out["span"])
    union = _eager(union)
    m["fused.rows_out"] = union.count()

    cpu0 = host.tree_cpu()
    with tr.span("check_confidential", "confidential") as s:
        _noop(confidential.check_confidential(a, patterns=cfg.confidential_patterns))
    m["confidential.scan_s"] = s["dur_s"]
    m["confidential.python_cpu_s"] = host.tree_cpu()["python"] - cpu0["python"]

    for name, layer, fn in (
        ("check_duplicates", "duplicates", duplicates.check_duplicates),
        ("check_unique_ids", "uniqueness", uniqueness.check_unique_ids),
    ):
        with tr.span(name, layer) as s:
            _noop(fn(a, n_salts=cfg.n_salts))
        m[f"{layer}.check_s"] = s["dur_s"]

    blocks = _Tracked(eager=True)
    with tr.span("check_drift", "drift") as s:
        _noop(drift.check_drift(
            a, categorical=(F.col("n_media") > 0).cast("int"), numeric=F.col("size"),
            alpha=cfg.drift_alpha, psi=cfg.drift_psi, psi_threshold=cfg.psi_threshold,
            psi_per_octave=cfg.psi_per_octave, materialize=blocks,
        ))
    m["drift.check_s"] = s["dur_s"]

    with tr.span("verify_integrity", "integrity") as s:
        v, wb = integrity.verify_integrity(
            a, h["expected"], include_missing=False, materialize=blocks,
        )
        _noop(v)
        _noop(wb)
    m["integrity.verify_s"] = s["dur_s"]

    with tr.span("partition_profile", "stats") as s:
        profile = _eager(stats.partition_profile(a))
    m["stats.profile_s"] = s["dur_s"]

    with tr.span("metrics_from_violations", "contract") as s:
        _noop(metrics_from_violations(
            union, a, cfg.enabled_checks(),
            part_counts=profile.select("part", F.col("n_docs").alias("docs_scanned")),
        ))
    m["contract.metrics_s"] = s["dur_s"]
    cache.release(a, union, profile, *blocks.blocks, blocking=True)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _event_log_labels(path: str, tr: Tracer, m: dict) -> None:
    """Per-label task CPU, GC, shuffle write and spill, plus jobs per label."""
    stage_label: dict[int, str | None] = {}
    jobs: dict[str | None, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                label = group or tr.label_at(ev["Submission Time"])
                jobs[label] = jobs.get(label, 0) + 1
                for sid in ev["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if label not in LAYERS or not tm:
                    continue
                m[f"{label}.task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m[f"{label}.gc_s"] += tm["JVM GC Time"] / 1e3
                m[f"{label}.shuffle_write_mb"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                )
                m[f"{label}.spill_mb"] += tm["Disk Bytes Spilled"] / 2**20
    m["drift.jobs"] = jobs.get("drift", 0)


# ---------------------------------------------------------------------------


def traced_metrics(spark, wl, h, measured, work, seed) -> tuple[dict, list[dict]]:
    """(metric -> (value, unit), traced pass records). Stops the session."""
    m = {k: 0.0 for k in METRICS}
    ok = [p for p in measured if p["ok"]] or measured
    med = lambda k: statistics.median(p[k] for p in ok)  # noqa: E731
    untraced_wall = med("wall_s")
    m["cache.blocks_after_release"] = max(p["blocks_after_release"] for p in measured)
    m["cache.release_s"] = med("release_s")
    m["proc.jvm_cpu_s"] = med("jvm_cpu_s")
    m["proc.python_cpu_s"] = med("python_cpu_s")
    m["proc.util"] = statistics.median(
        p["cpu_s"] / (p["wall_s"] * (os.cpu_count() or 1)) for p in ok
    )
    m["jvm.gc_s"] = med("gc_s")
    m["jvm.gc_count"] = med("gc_count")

    tr = Tracer(spark)
    rec = {"k": f"traced-{wl.name}"}
    try:
        if wl.name == "dedup_pipeline":
            wall, obs = _trace_dedup(tr, wl, h, m)
        else:
            wl.before_pass(0)
            trace_pass = _trace_resume if wl.name == "resume_lineage" else _trace_suite
            wall, obs = trace_pass(tr, wl, h, m)
            _probe_suite_layers(spark, tr, wl, h, m)
        rec["error"] = wl.check(obs, wl.ref)
        rec["wall_s"] = wall
        m["trace.overhead"] = wall / untraced_wall
    except Exception as e:  # recorded and counted as a failed pass
        rec["error"] = f"{type(e).__name__}: {e}"
    rec["ok"] = rec["error"] is None
    m["trace.spans"] = len(tr.spans)

    app = spark.sparkContext.applicationId
    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir").removeprefix("file://")
    spark.stop()
    logs = glob.glob(os.path.join(log_dir, app + "*"))
    _event_log_labels(logs[0], tr, m)

    out = os.path.join(work, "trace")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{wl.name}-seed{seed}.json"), "w") as f:
        json.dump({"spans": tr.spans, "metrics": m, "layer_map": LAYER_MAP}, f, indent=1)
    return {k: (m[k], METRICS[k]) for k in METRICS}, [rec]
