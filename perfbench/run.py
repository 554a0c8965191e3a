"""Benchmark of the spark-doccheck engine through its public API at local[4].

    python3 perfbench/run.py --workload resume_lineage --seed 1 --seconds 25 --trace 0

Workloads (perfbench/workloads.py): suite_full, dedup_pipeline,
resume_lineage. Inputs and references are generated from --seed on the
first run per seed and cached under .perfbench_work/ (perfbench/inputs.py).
Whatever needs a Spark session to build is built by a child process with a
JVM of its own, so the measured process starts from the same state whether
or not its inputs were cached.

One run: time the set-up (Python imports, session start and opening the
inputs; input generation excluded), take the host calibration probe, run
WARMUP_PASSES, then measure passes for --seconds (at least MIN_PASSES).
Then load the seed's reference, computing it in the now idle session on
the first run per seed, and verify every pass, warm-up included, against
it; each counts toward attempted/failed.

--trace 0 prints the end-to-end metrics (medians over measured passes):
  docs_per_s      input documents per wall second
  cpu_ms_per_doc  CPU ms per document over the process tree (driver
                  Python + JVM + Python workers): CPU used, not time
                  waited, so it moves less with hypervisor steal than
                  wall time does (it still rises under heavy steal)
  setup_s         this process's set-up, one sample per run
  peak_mem_mb     peak PSS of the process tree
--trace 1 runs the same untraced passes, then one traced pass and the
per-layer probes (perfbench/trace.py), and prints the per-layer metrics.

A run record (config fingerprint, input preparation, host calibration
at start and end, steal across the run, every pass) is printed before the
final JSON line and appended to .perfbench_work/runs.jsonl. The last stdout
line is {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
# pinned driver heap (session.py's 24g default does not fit a 15 GB host)
DRIVER_MEM = "1g"
WARMUP_PASSES = 1
MIN_PASSES = 2
# stop starting passes once a run has used this much wall time
RUN_BUDGET_S = 80.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _since_process_start() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _session(extra_conf: dict):
    from datachecker_spark.session import get_spark

    return get_spark(cores=CORES, app_name="perfbench", extra_conf=extra_conf)


def _shutdown_jvm() -> bool:
    """Stop the gateway JVM (and with it the Python workers) and wait for
    every child process to end, rather than leave them to exit after us."""
    from pyspark import SparkContext

    from perfbench.host import wait_for_children

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    return wait_for_children(60)


def jvm_gc(spark) -> tuple[float, int]:
    """(GC seconds, collections) summed over the JVM's collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    t = n = 0
    for b in beans:
        t += b.getCollectionTime()
        n += b.getCollectionCount()
    return t / 1000.0, n


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def run_pass(spark, wl, h, k: int, sampler) -> dict:
    """One pass and its observation, checked by verify() after the run."""
    from perfbench.host import Meter

    rec = {"k": k, "error": None}
    wl.before_pass(k)
    sampler.take()
    gc0 = jvm_gc(spark)
    out = None
    try:
        with Meter() as m:
            out = wl.run(h)
        gc1 = jvm_gc(spark)
        rec.update(
            wall_s=m.wall, cpu_s=m.cpu["total"], jvm_cpu_s=m.cpu["jvm"],
            python_cpu_s=m.cpu["python"], steal_s=m.steal,
            peak_mem_mb=sampler.take(), gc_s=gc1[0] - gc0[0], gc_count=gc1[1] - gc0[1],
        )
        rec["obs"] = wl.observe(out)
    except Exception:  # a failed pass is recorded and counted, never fatal
        rec["error"] = traceback.format_exc(limit=3)
    t0 = time.perf_counter()
    if out is not None:
        try:
            wl.release(out)
        except Exception:
            rec["error"] = rec["error"] or traceback.format_exc(limit=3)
    rec["release_s"] = time.perf_counter() - t0
    # reported (cache.blocks_after_release), not a failed pass: the output
    # is still correct when an intermediate block outlives its pass
    rec["blocks_after_release"] = persistent_rdds(spark)
    return rec


def verify(wl, passes: list[dict]) -> None:
    """A pass that raised or whose output differs from the reference is
    failed."""
    for p in passes:
        if "obs" in p:
            p["error"] = wl.check(p.pop("obs"), wl.ref)
        p["ok"] = p["error"] is None


def end_to_end(wl, passes: list[dict], setup_s: float) -> dict:
    ok = [p for p in passes if p["ok"]]
    return {
        "docs_per_s": (_median([wl.n_docs / p["wall_s"] for p in ok]), "docs/s"),
        "cpu_ms_per_doc": (_median([1000 * p["cpu_s"] / wl.n_docs for p in ok]), "ms/doc"),
        "setup_s": (setup_s, "s"),
        "peak_mem_mb": (_median([p["peak_mem_mb"] for p in ok]), "MB"),
    }


def _no_spark():
    from perfbench.inputs import NeedsSpark

    raise NeedsSpark


def prepare(wl, conf: dict) -> None:
    """Build what the cache lacks (--prepare: the child's whole job)."""
    spark = None

    def sp():
        nonlocal spark
        spark = spark or _session(conf)
        return spark

    try:
        wl.prepare(sp)
    finally:
        if spark is not None:
            spark.stop()
            _shutdown_jvm()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, no warm-up, one measured pass")
    ap.add_argument("--prepare", action="store_true",
                    help="only build the cached inputs, then exit")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datachecker_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)

    from bench import _host_calibration
    from perfbench import host, inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sizes = inputs.SMOKE if args.smoke else inputs.FULL
    wl = WORKLOADS[args.workload](inputs.Cache(os.path.join(work, "cache")), args.seed, sizes, work)
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.prepare:
        prepare(wl, conf)
        return 0
    imports_s = _since_process_start()

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "config": {"cores": CORES, "driver_mem": DRIVER_MEM, "sizes": vars(sizes),
                   "warmup_passes": 0 if args.smoke else WARMUP_PASSES,
                   "min_passes": 1 if args.smoke else MIN_PASSES},
    }
    steal0 = host.steal_s()
    t0 = time.perf_counter()
    record["prepare_child"] = False
    try:
        wl.prepare(_no_spark)
    except inputs.NeedsSpark:
        record["prepare_child"] = True
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", "0", "--prepare"]
        subprocess.run(cmd + ["--smoke"] * args.smoke, check=True, stdout=sys.stderr)
        wl.prepare(_no_spark)
    record["prepare_s"] = time.perf_counter() - t0

    if args.trace:
        from perfbench import trace

        conf.update(trace.event_log_conf(work))
    t0 = time.perf_counter()
    spark = _session(conf)
    t1 = time.perf_counter()
    h = wl.open(spark)
    t2 = time.perf_counter()
    record["imports_s"], record["session_start_s"], record["open_s"] = imports_s, t1 - t0, t2 - t1
    setup_s = imports_s + (t2 - t0)
    record["calibration_start"] = _host_calibration()

    n_warm, n_min = (0, 1) if args.smoke else (WARMUP_PASSES, MIN_PASSES)
    seconds = 0.0 if args.smoke else args.seconds
    passes: list[dict] = []
    with host.PeakSampler() as sampler:
        for _ in range(n_warm):
            passes.append(dict(run_pass(spark, wl, h, len(passes), sampler), warmup=True))
        t_measure = time.perf_counter()
        measured: list[dict] = []
        while len(measured) < n_min or time.perf_counter() - t_measure < seconds:
            last = measured[-1].get("wall_s", 0) if measured else 0
            if measured and _since_process_start() + last > RUN_BUDGET_S:
                break
            measured.append(run_pass(spark, wl, h, len(passes) + len(measured), sampler))
        passes += measured
    t0 = time.perf_counter()
    wl.ref = wl.reference(lambda: spark)
    record["reference_s"] = time.perf_counter() - t0
    verify(wl, passes)
    if args.trace:
        # stops the session: the event log is complete only after that
        metrics, traced = trace.traced_metrics(spark, wl, h, measured, work, args.seed)
        metrics["session.start_s"] = (record["session_start_s"], "s")
        passes += traced
    else:
        spark.stop()
        metrics = end_to_end(wl, measured, setup_s)
    record["children_ended"] = _shutdown_jvm()

    record["steal_s"] = host.steal_s() - steal0
    record["calibration_end"] = _host_calibration()
    record["passes"] = passes
    record["wall_s"] = _since_process_start()
    failed = sum(not p["ok"] for p in passes)
    line = json.dumps(record, default=str)
    with open(os.path.join(work, "runs.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
