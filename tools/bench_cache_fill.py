"""Decompose t_cache_fill's sub-stages at two pinned core counts.

The 4->16 scaling residual concentrates in cache_fill (28.2s -> 19.8s, 1.4x,
while the rest of the suite scales 3.3x — BENCH_SCALING_4TO16_FINAL.json
first samples). This tool isolates which sub-stage stops scaling:

  noop      scan + annotate, all columns forced through a noop sink
            (full derived-column compute, NO cache write). A count() probe
            is useless here: Catalyst prunes every column for count, so
            scan+count measures parquet FOOTERS, not the pipeline.
  fill        scan + annotate + MEMORY_AND_DISK persist + count (= run_suite's;
              PySpark's MEMORY_AND_DISK stores blocks serialized)
  fill_deser  same with MEMORY_AND_DISK_DESER (blocks kept as deserialized
              on-heap objects instead of serialized bytes)

Optional stages: ckpt (eager localCheckpoint instead of persist),
fill_nocomp (columnar cache compression off), fill_bigbatch (4x larger
cached batches), and an _mbN suffix on any stage (e.g. fill_mb32) to set
the input split size in MB.

Usage: python tools/bench_cache_fill.py [--docs-path /tmp/doccheck_bench/4000000/docs]
       [--cores 4,16] [--repeat 2] [--taskset]
Each (cores, stage, rep) runs in its own pinned subprocess (one SparkSession
per process; strictly sequential).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def worker(cores: int, stage: str, docs_path: str) -> None:
    from pyspark.storagelevel import StorageLevel

    from datachecker_spark.fingerprint import annotate
    from datachecker_spark.session import get_spark

    # stage suffix _mbN overrides the split size (fill_mb32 = 32MB splits):
    # cache blocks are per-partition, so split size controls block count and
    # with it the MemoryStore unroll-reservation frequency
    mb = 8
    if "_mb" in stage:
        stage, mb_s = stage.split("_mb")
        mb = int(mb_s)
    conf = {
        "spark.sql.files.maxPartitionBytes": str(mb * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
    }
    # fill_nocomp: skip the columnar cache's per-column compression-scheme
    # probing (free text is incompressible by its encodings anyway);
    # fill_bigbatch: 4x bigger CachedBatches (fewer builder growth/copy
    # cycles and unroll reservations)
    if stage == "fill_nocomp":
        conf["spark.sql.inMemoryColumnarStorage.compressed"] = "false"
    elif stage == "fill_bigbatch":
        conf["spark.sql.inMemoryColumnarStorage.batchSize"] = "40000"
    spark = get_spark(
        cores=cores,
        shuffle_partitions=max(2 * cores, 8),
        app_name=f"fill-{cores}-{stage}",
        extra_conf=conf,
    )
    docs = spark.read.parquet(docs_path)
    # warmup: one full pass of the measured stage (C2 JIT), then measure
    for label in ("warmup", "measured"):
        t0 = time.perf_counter()
        if stage == "noop":
            annotate(docs).write.format("noop").mode("overwrite").save()
            n = -1
        elif stage == "ckpt":
            d = annotate(docs).localCheckpoint(eager=True)
            n = d.count()
            elapsed = time.perf_counter() - t0
            if label == "measured":
                print(json.dumps({"cores": cores, "stage": stage, "sec": round(elapsed, 2), "rows": n}))
            from datachecker_spark import cache as _c
            _c.release(d, blocking=True)
            continue
        else:
            level = (
                StorageLevel.MEMORY_AND_DISK_DESER
                if stage == "fill_deser"
                else StorageLevel.MEMORY_AND_DISK
            )
            d = annotate(docs).persist(level)
            n = d.count()
            elapsed = time.perf_counter() - t0
            d.unpersist(blocking=True)
            if label == "measured":
                print(json.dumps({"cores": cores, "stage": stage, "sec": round(elapsed, 2), "rows": n}))
            continue
        if label == "measured":
            print(json.dumps({"cores": cores, "stage": stage, "sec": round(time.perf_counter() - t0, 2), "rows": n}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", nargs=2, default=None, metavar=("CORES", "STAGE"))
    ap.add_argument("--docs-path", default="/tmp/doccheck_bench/4000000/docs")
    ap.add_argument("--cores", default="4,16")
    ap.add_argument("--stages", default="noop,fill,fill_deser")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--taskset", action="store_true")
    args = ap.parse_args()

    if args.worker:
        worker(int(args.worker[0]), args.worker[1], args.docs_path)
        return

    out: list[dict] = []
    for rep in range(args.repeat):
        for cores in [int(c) for c in args.cores.split(",")]:
            for stage in args.stages.split(","):
                cmd = [sys.executable, os.path.abspath(__file__), "--worker",
                       str(cores), stage, "--docs-path", args.docs_path]
                if args.taskset:
                    cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
                r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=1800)
                lines = [l for l in r.stdout.strip().splitlines() if l.startswith("{")]
                if lines:
                    rec = json.loads(lines[-1])
                    rec["rep"] = rep
                    out.append(rec)
                    print(json.dumps(rec))
                else:
                    print(json.dumps({"cores": cores, "stage": stage, "error": r.stderr[-500:]}))


if __name__ == "__main__":
    main()
