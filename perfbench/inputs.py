"""Seeded benchmark inputs and their reference digests, cached on disk.

Every input is a pure function of (seed, size, generator source): the
documents corpus comes from ``datachecker_spark.datagen``, the dedup text
corpus from ``text_corpus`` below. Cache keys hash the generator source, so
two checkouts with the same generator read byte-identical files and set-up
time never includes generation.

References are computed once per input, outside every timed region, and
cached with it. They are keyed by the input they describe (and, for dedup,
the oracle SQL), never by the engine's source, and come from code paths
independent of the one measured:

* suite: per (check, part) violation counts and an order-independent row
  hash from the standalone per-check library functions (the reference that
  tests/test_fused.py trusts), not from ``run_suite``. They share
  ``fingerprint.annotate`` with the engine, so a defect in annotate moves
  the reference and the pass alike;
* dedup: the kept doc ids from DuckDB running the ``dedup_e2e`` oracle SQL;
* resume: the lineage template (48 of 64 parts already done) plus the
  number of integrity rows the timed pass must merge back.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "datachecker_spark")

NOW = "2024-06-01 00:00:00"  # pinned timestamp_now: verdicts must not drift
N_PARTS = 64
N_DONE_PARTS = 48
N_MEDIA = 1000
DEDUP_THRESHOLD = 0.2
DEDUP_MAX_DF = 1000  # the dedup_e2e oracle's hot-shingle cap
VOCAB_SIZE = 2000
ZIPF_S = 1.0


@dataclass(frozen=True)
class Sizes:
    suite_docs: int
    dedup_docs: int


FULL = Sizes(suite_docs=20_000, dedup_docs=3_000)
SMOKE = Sizes(suite_docs=2_000, dedup_docs=300)


def _src_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _key(*parts) -> str:
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:20]


class NeedsSpark(Exception):
    """Raised by the sp() of a process that must not build inputs itself:
    something is missing from the cache."""


class Cache:
    """Directory of finished artifacts and reference values. Each is
    written to a temp name and renamed into place, so a killed run never
    leaves a half-written one."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def build(self, name: str, fn) -> str:
        final = os.path.join(self.root, name)
        if os.path.exists(final):
            return final
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        fn(tmp)
        os.replace(tmp, final)
        return final

    def value(self, name: str, compute):
        """compute()'s JSON value, computed on the first call per name."""
        path = self.build(name, lambda d: _write_json(f"{d}/value.json", compute()))
        return read_json(f"{path}/value.json")


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# ---------------------------------------------------------------------------
# documents corpus (suite_full, resume_lineage)
# ---------------------------------------------------------------------------


def corpus(sp, cache: Cache, seed: int, sizes: Sizes) -> str:
    """Directory with documents/, catalog/ and expected/ parquet tables.
    Here and below, sp() returns the session to build with and is called
    only on a cache miss."""
    from datachecker_spark.datagen import (
        generate_documents,
        generate_expected_fingerprints,
        generate_media_catalog,
    )

    def make(d: str) -> None:
        spark = sp()
        generate_documents(
            spark, sizes.suite_docs, n_parts=N_PARTS, hot_frac=0.02,
            n_media=N_MEDIA, seed=seed, slices=8,
        ).write.parquet(f"{d}/documents")
        generate_media_catalog(spark, N_MEDIA, seed=seed).coalesce(1).write.parquet(
            f"{d}/catalog"
        )
        docs = spark.read.parquet(f"{d}/documents")
        generate_expected_fingerprints(docs, seed=seed).coalesce(2).write.parquet(
            f"{d}/expected"
        )

    gen = _src_hash(os.path.join(PKG, "datagen.py"))
    return cache.build("corpus-" + _key(seed, sizes.suite_docs, N_PARTS, gen), make)


def violation_digest(violations, by=("check",)) -> dict[str, list[int]]:
    """"<by values joined by '|'>" -> [rows, sum of low 32 hash bits, sum of
    high 32 hash bits].

    A multiset hash: independent of row order and partitioning, sensitive
    to every field of every row."""
    from pyspark.sql import functions as F

    fields = [
        F.coalesce(F.col(c), F.lit("\x00"))
        for c in ("check", "severity", "doc_id", "part", "detail")
    ]
    h = F.xxhash64(*fields)
    rows = (
        violations.select(*by, h.alias("_h"))
        .groupBy(*by)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("_h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftrightunsigned("_h", 32)).alias("hi"),
        )
        .collect()
    )
    return {
        "|".join(str(r[c]) for c in by): [int(r["n"]), int(r["lo"]), int(r["hi"])]
        for r in rows
    }


def sum_digest(by_part: dict[str, list[int]], keep=lambda check, part: True) -> dict:
    """Fold a (check|part) digest into a per-check one over the kept rows."""
    out: dict[str, list[int]] = {}
    for key, sums in by_part.items():
        check, part = key.split("|", 1)
        if keep(check, part):
            old = out.get(check, [0, 0, 0])
            out[check] = [a + b for a, b in zip(old, sums)]
    return out


def _standalone_violations(docs, catalog, expected, materialize):
    """Every check of the default SuiteConfig, one library call each,
    unioned. materialize: drift's checkpoint hook, so the caller can
    release what it makes."""
    from functools import reduce

    from pyspark.sql import functions as F

    from datachecker_spark.constraints import (
        confidential, diraggs, drift, duplicates, integrity, predicates,
        referential, stats, uniqueness,
    )
    from datachecker_spark.runner import SuiteConfig

    cfg = SuiteConfig(timestamp_now=NOW)
    checks = [
        duplicates.check_duplicates(docs, n_salts=cfg.n_salts),
        uniqueness.check_unique_ids(docs, n_salts=cfg.n_salts),
        stats.check_empty_docs(docs),
        stats.check_large_docs(docs, threshold=cfg.large_doc_size),
        predicates.check_doc_names(docs),
        predicates.check_name_length(docs, max_len=cfg.max_name_len),
        predicates.check_ref_path_length(docs, max_len=cfg.max_path_len),
        predicates.check_temp_refs(docs),
        predicates.check_legacy_refs(docs),
        predicates.check_kind_consistency(docs),
        predicates.check_json_spans(docs),
        confidential.check_confidential(docs, patterns=cfg.confidential_patterns),
        stats.check_timestamps(docs, now=NOW, max_age_days=cfg.max_age_days),
        referential.check_media_refs(docs, catalog),
        integrity.verify_integrity(docs, expected, include_missing=True)[0],
        diraggs.check_partition_sizes(docs, max_items=cfg.max_items_per_partition),
        drift.check_drift(
            docs, categorical=(F.col("n_media") > 0).cast("int"),
            numeric=F.col("size"), alpha=cfg.drift_alpha, psi=cfg.drift_psi,
            psi_threshold=cfg.psi_threshold, psi_per_octave=cfg.psi_per_octave,
            materialize=materialize,
        ),
    ]
    cols = ["check", "severity", "doc_id", "part", "detail"]
    return reduce(lambda a, b: a.unionByName(b), (c.select(*cols) for c in checks))


def suite_reference(sp, cache: Cache, corpus_dir: str) -> dict[str, list[int]]:
    """check|part -> [rows, lo, hi] from the standalone checks."""
    from datachecker_spark import cache as dcache
    from datachecker_spark.fingerprint import annotate

    def compute() -> dict:
        spark = sp()
        docs = annotate(spark.read.parquet(f"{corpus_dir}/documents"))
        blocks = [docs.localCheckpoint(eager=True)]

        def checkpoint(d):
            blocks.append(d.localCheckpoint(eager=True))
            return blocks[-1]

        try:
            union = _standalone_violations(
                blocks[0],
                spark.read.parquet(f"{corpus_dir}/catalog"),
                spark.read.parquet(f"{corpus_dir}/expected"),
                checkpoint,
            )
            return violation_digest(union, by=("check", "part"))
        finally:
            dcache.release(*blocks, blocking=True)

    return cache.value("suiteref-" + os.path.basename(corpus_dir), compute)


def global_checks() -> set[str]:
    """Checks run_with_lineage recomputes over the whole corpus."""
    from datachecker_spark.runner import SuiteConfig

    return set(SuiteConfig(timestamp_now=NOW).global_only().enabled_checks())


def done_parts(seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    parts = [f"p{i}" for i in range(N_PARTS)]
    return sorted(rng.choice(parts, size=N_DONE_PARTS, replace=False).tolist())


def lineage_template(sp, cache: Cache, seed: int, corpus_dir: str) -> dict:
    """Output dir of an interrupted run: its lineage marks 48 seeded parts
    done, and its expectations table is the corpus's expected table.

    Returns {"dir": template out dir, "done": [parts], "merge_expected": n}:
    n = create-semantics expectation rows (NULL or empty hash, supported
    algorithm) whose document lies in the 16 parts a resumed pass
    processes."""
    from pyspark.sql import functions as F

    from datachecker_spark.constraints.integrity import SUPPORTED_ALGOS

    done = done_parts(seed)

    def make(d: str) -> None:
        spark = sp()
        out = f"{d}/out"
        shutil.copytree(f"{corpus_dir}/expected", f"{out}/expectations")
        docs = spark.read.parquet(f"{corpus_dir}/documents")
        per_part = {r["part"]: r["n"] for r in docs.groupBy("part").agg(
            F.count("*").alias("n")).collect()}
        spark.createDataFrame(
            [("template", p, "suite", "done", 0, per_part.get(p, 0), NOW) for p in done],
            "run_id string, part string, check string, status string, "
            "violation_count bigint, docs_scanned bigint, completed_at string",
        ).coalesce(1).write.parquet(f"{out}/lineage")
        expected = spark.read.parquet(f"{corpus_dir}/expected")
        todo_docs = docs.where(~F.col("part").isin(done)).select("doc_id")
        merge_expected = (
            expected.where(
                (F.col("expected_hash").isNull() | (F.col("expected_hash") == ""))
                & F.col("algo").isin(list(SUPPORTED_ALGOS))
            )
            .join(todo_docs, "doc_id")
            .count()
        )
        _write_json(f"{d}/meta.json", {"done": done, "merge_expected": merge_expected})

    tdir = cache.build("lineage-" + _key(os.path.basename(corpus_dir), done), make)
    return {"dir": f"{tdir}/out", **read_json(f"{tdir}/meta.json")}


# ---------------------------------------------------------------------------
# dedup text corpus (dedup_pipeline)
# ---------------------------------------------------------------------------


def text_corpus(n_docs: int, seed: int):
    """(doc_id, text, n_chars) rows: 20-80 words drawn from a Zipf(s=1)
    vocabulary of 2000 words, so bigram document frequencies are skewed
    the way natural text's are: a few bigrams occur in a third or more of
    the documents (beyond max_df once the corpus passes ~2000 docs) and
    most in one or two.

    The first 40% of ids form near-duplicate families, alternately an
    isolated pair and a chain of six in which each doc rewrites ~10% of the
    previous one's words, so far chain ends share few shingles and
    connected components needs several rounds. These shape parameters are
    assumed, not measured on any real corpus. The seed changes the words,
    not the family shapes, so every seed asks for about the same work."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p = weights / weights.sum()
    vocab = np.array([f"w{k}" for k in range(VOCAB_SIZE)])

    def fresh() -> np.ndarray:
        return rng.choice(VOCAB_SIZE, size=int(rng.integers(20, 81)), p=p)

    def rewrite(words: np.ndarray) -> np.ndarray:
        words = words.copy()
        hit = rng.random(len(words)) < 0.1
        words[hit] = rng.choice(VOCAB_SIZE, size=int(hit.sum()), p=p)
        return words

    texts: list[np.ndarray] = []
    n_family, families = int(0.4 * n_docs), 0
    while len(texts) < n_docs:
        size = (2, 6)[families % 2] if len(texts) < n_family else 1
        families += 1
        words = fresh()
        for _ in range(min(size, n_docs - len(texts))):
            texts.append(words)
            words = rewrite(words)
    joined = [" ".join(vocab[w]) for w in texts]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(joined, pa.string()),
            "n_chars": pa.array([len(t) for t in joined], pa.int64()),
        }
    )


def text_corpus_dir(cache: Cache, seed: int, sizes: Sizes) -> str:
    """Directory holding documents.parquet of text_corpus(seed)."""
    import pyarrow.parquet as pq

    def make(d: str) -> None:
        pq.write_table(text_corpus(sizes.dedup_docs, seed), f"{d}/documents.parquet")

    gen = _src_hash(os.path.abspath(__file__))
    return cache.build("textcorpus-" + _key(seed, sizes.dedup_docs, gen), make)


def _duckdb_documents(corpus_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{corpus_dir}/documents.parquet')"
    )
    return con


def dedup_reference(cache: Cache, corpus_dir: str) -> list[int]:
    """Sorted doc ids DuckDB keeps running the dedup_e2e oracle SQL.

    The similar-pairs CTE is marked MATERIALIZED: DuckDB otherwise
    re-evaluates it, shingle self-join included, in every round of the
    recursive label walk. The rows it yields are the same."""
    from datachecker_spark.entry_queries import ORACLES

    sql = ORACLES["dedup_e2e"]
    if sql.count("sim AS (") == 1:
        sql = sql.replace("sim AS (", "sim AS MATERIALIZED (")

    def compute() -> list[int]:
        con = _duckdb_documents(corpus_dir)
        try:
            return sorted(r[0] for r in con.execute(sql).fetchall())
        finally:
            con.close()

    oracle = _src_hash(os.path.join(PKG, "entry_queries.py"))
    return cache.value("dedupref-" + _key(os.path.basename(corpus_dir), oracle), compute)


def shingle_stats(corpus_dir: str) -> dict[str, int]:
    """How much the candidate stage has to prune, from DuckDB: bigrams the
    max_df cap drops, and doc pairs sharing at least one kept bigram (the
    candidates an unpruned shingle join would verify)."""
    con = _duckdb_documents(corpus_dir)
    try:
        hot, shared = con.execute(f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     list_filter(str_split_regex(lower(text), '\\s+'), w -> w <> '') AS w
              FROM documents),
            ex0 AS (
              SELECT DISTINCT id, w[i] || ' ' || w[i + 1] AS s
              FROM (SELECT id, w, unnest(range(1, len(w))) AS i FROM toks)),
            df AS (SELECT s, count(*) AS n FROM ex0 GROUP BY s),
            ex AS (SELECT id, s FROM ex0 JOIN df USING (s) WHERE n <= {DEDUP_MAX_DF})
            SELECT (SELECT count(*) FROM df WHERE n > {DEDUP_MAX_DF}),
                   (SELECT count(*) FROM (SELECT DISTINCT x.id, y.id
                      FROM ex x JOIN ex y ON x.s = y.s AND x.id < y.id))
        """).fetchone()
    finally:
        con.close()
    return {"hot_shingles": int(hot), "shared_pairs": int(shared)}
