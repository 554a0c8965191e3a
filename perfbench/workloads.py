"""The three benchmark workloads, each driven through the engine's public API.

``prepare(sp)`` finds the seed's inputs in the cache, or builds them with
the session sp() returns. Per pass: ``before_pass`` (untimed), ``run`` (the
timed pass), ``observe`` (untimed: the small fact about the output that
verification needs) and ``release``, which frees the pass's own cached
results (never ``cache.release_all``, which would also drop blocks a later
consumer still holds). After the passes, ``reference(sp)`` returns the
seed's reference (perfbench/inputs.py) and ``check`` compares each pass's
observation with it.

One warm-up pass runs before the measured ones: a pass in a fresh JVM
takes about twice as long as the next, which has its query plans compiled.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from perfbench import inputs


class SuiteFull:
    """``run_suite`` with every family on over the seeded documents corpus."""

    name = "suite_full"

    def __init__(self, cache: inputs.Cache, seed: int, sizes: inputs.Sizes, work: str):
        self.cache, self.seed, self.sizes, self.work = cache, seed, sizes, work
        self.n_docs = sizes.suite_docs

    def prepare(self, sp) -> None:
        self.corpus = inputs.corpus(sp, self.cache, self.seed, self.sizes)

    def reference(self, sp) -> dict:
        return inputs.sum_digest(inputs.suite_reference(sp, self.cache, self.corpus))

    def open(self, spark) -> dict:
        return {
            t: spark.read.parquet(f"{self.corpus}/{t}")
            for t in ("documents", "catalog", "expected")
        }

    def config(self):
        from datachecker_spark.runner import SuiteConfig

        return SuiteConfig(timestamp_now=inputs.NOW)

    def before_pass(self, k: int) -> None:
        pass

    def run(self, h: dict, timings: dict | None = None):
        from datachecker_spark.runner import run_suite

        return run_suite(
            h["documents"], media_catalog=h["catalog"],
            expected_fingerprints=h["expected"], config=self.config(),
            timings=timings,
        )

    def observe(self, res) -> dict:
        return inputs.violation_digest(res.violations)

    def release(self, res) -> None:
        res.release(blocking=True)

    def check(self, digest: dict, ref: dict) -> str | None:
        return None if digest == ref else f"digest {digest} != reference {ref}"


class ResumeLineage(SuiteFull):
    """``run_with_lineage`` resuming a template with 48 of 64 parts done."""

    name = "resume_lineage"

    def prepare(self, sp) -> None:
        super().prepare(sp)
        self.template = inputs.lineage_template(sp, self.cache, self.seed, self.corpus)

    def reference(self, sp) -> dict:
        """Every part committed, the pending create-semantics rows of the
        16 resumed parts merged, and violations ∪ violations_global equal
        to the standalone checks, the global ones over the whole corpus and
        the partition-local ones over the resumed parts (the template holds
        no violations of its own)."""
        glob = inputs.global_checks()
        done = set(self.template["done"])
        by_part = inputs.suite_reference(sp, self.cache, self.corpus)
        return {
            "processed": inputs.N_PARTS - inputs.N_DONE_PARTS,
            "merged": self.template["merge_expected"],
            "committed": inputs.N_PARTS,
            "digest": inputs.sum_digest(
                by_part, lambda check, part: check in glob or part not in done
            ),
        }

    def before_pass(self, k: int) -> None:
        self.out = os.path.join(self.work, "resume_out")
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.template["dir"], self.out)
        self.run_id = f"pass{k}"

    def run(self, h: dict):
        from datachecker_spark.runner import run_with_lineage

        return run_with_lineage(
            h["documents"], self.out, run_id=self.run_id,
            media_catalog=h["catalog"],
            expectations_path=f"{self.out}/expectations", config=self.config(),
        )

    def observe(self, info: dict) -> dict:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        lineage = spark.read.parquet(f"{self.out}/lineage")
        cols = ["check", "severity", "doc_id", "part", "detail"]
        v = spark.read.parquet(f"{self.out}/violations").select(*cols).unionByName(
            spark.read.parquet(f"{self.out}/violations_global").select(*cols)
        )
        return {
            "processed": info["parts_processed"],
            "merged": info["expectations_merged"],
            "committed": lineage.where(F.col("status") == "done")
            .select("part").distinct().count(),
            "digest": inputs.violation_digest(v),
        }

    def release(self, info: dict) -> None:
        """run_with_lineage releases its own blocks; nothing is handed back."""

    def check(self, obs: dict, ref: dict) -> str | None:
        return None if obs == ref else f"{obs} != reference {ref}"


class DedupPipeline:
    """ngram_jaccard_pairs -> dedup_clusters -> keep_canonical (dedup_e2e)."""

    name = "dedup_pipeline"

    def __init__(self, cache: inputs.Cache, seed: int, sizes: inputs.Sizes, work: str):
        self.cache, self.seed, self.sizes = cache, seed, sizes
        self.n_docs = sizes.dedup_docs

    def prepare(self, sp) -> None:
        self.corpus = inputs.text_corpus_dir(self.cache, self.seed, self.sizes)

    def reference(self, sp) -> list[int]:
        return inputs.dedup_reference(self.cache, self.corpus)

    def open(self, spark) -> dict:
        return {"documents": spark.read.parquet(f"{self.corpus}/documents.parquet")}

    def before_pass(self, k: int) -> None:
        pass

    # the three stages of dedup_e2e, separable so a traced pass can time each
    def pairs(self, docs):
        from datachecker_spark.textops import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            docs, threshold=inputs.DEDUP_THRESHOLD, max_df=inputs.DEDUP_MAX_DF,
            hash_shingles=True, candidates="prefix",
        )

    def clusters(self, pairs, materialize=None):
        from datachecker_spark.graph import dedup_clusters

        return dedup_clusters(pairs.select("id_a", "id_b"), materialize=materialize)

    def kept_ids(self, docs, clusters) -> list[int]:
        from datachecker_spark.graph import keep_canonical

        kept = keep_canonical(docs.select("doc_id", "n_chars"), clusters)
        return sorted(r[0] for r in kept.select("doc_id").collect())

    def run(self, h: dict):
        pairs = self.pairs(h["documents"])
        clusters = self.clusters(pairs)
        return self.kept_ids(h["documents"], clusters), (pairs, clusters)

    def observe(self, out) -> list[int]:
        return out[0]

    def release(self, out) -> None:
        from datachecker_spark import cache

        cache.release(*out[1], blocking=True)

    def check(self, ids: list[int], ref: list[int]) -> str | None:
        if ids == ref:
            return None
        return f"kept {len(ids)} docs, oracle keeps {len(ref)}"


WORKLOADS = {w.name: w for w in (SuiteFull, DedupPipeline, ResumeLineage)}
