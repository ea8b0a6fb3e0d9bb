"""The workloads: inputs, set-up, the measured iteration, and the output
checks.

A run sets the workload up (``setup_s``), then runs the measured
iteration once on the full input.  ``medallion_daily`` sets up with one
cold iteration on a small warm-up input generated from the same seed,
which pays the JVM's JIT, class loading and code generation, so its
measured day runs warm.  ``corpus_dedup`` has no warm-up: its cold
iteration alone costs about 35 s on 4 cores, and a run with both did
not fit the run budget (README.md), so its measured iteration is the
session's first.

Every operation is checked against the generator's facts.  An operation
that raises or returns a wrong answer is counted as failed, and an
iteration with a failed operation records no sample.  Only the
operations are timed; the checks between them are not.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_etl_minio_to_postgres_spark.functions.dedup import (
    near_dup_pairs,
    release_caches,
)
from airflow_etl_minio_to_postgres_spark.functions.graph import assign_clusters
from airflow_etl_minio_to_postgres_spark.functions.similarity import (
    embedding_near_dup_pairs,
)
from airflow_etl_minio_to_postgres_spark.plans.medallion import (
    run_medallion,
    write_medallion,
)
from airflow_etl_minio_to_postgres_spark.plans.training_prep import (
    prepare_training_corpus,
)
from airflow_etl_minio_to_postgres_spark.schemas import (
    FIELD_CONFIG_SCHEMA,
    PROPERTY_RAW_COLUMNS,
)
from airflow_etl_minio_to_postgres_spark.sources.files import ingest_bronze, read_csv
from airflow_etl_minio_to_postgres_spark.sources.manifest import (
    bloom_point_scan,
    commit_parquet_generation,
    lookup_join,
    maintenance_cycle,
    read_resolved,
    resolve_data_root,
)

import gen
from proc import cpu_s

# Input sizes: ``warm`` is the medallion warm-up day's input, the rest
# the measured iteration's.  "full" is what the benchmark measures;
# "toy" is the smoke test's.  See README.md for how they were chosen.
SIZES = {
    "medallion_daily": {"full": {"rows": 50_000, "warm": 10_000},
                        "toy": {"rows": 600, "warm": 300}},
    "corpus_dedup": {"full": {"docs": 2_000, "dim": 64, "lookups": 4},
                     "toy": {"docs": 300, "dim": 16, "lookups": 2}},
}


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Counts:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # Wall and process-tree CPU seconds spent inside operations; the
    # checks between them are not timed.
    wall_s: float = 0.0
    cpu_s: float = 0.0
    # Bytes of the files the operations created, counted even when a
    # later operation deletes them.
    bytes_written: int = 0


def listing(path: str) -> dict[str, int]:
    """Every file under ``path`` with its size.  Commits never rewrite a
    file in place (new generation dirs, new part-file names), so the
    files an operation wrote are the names absent before it."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    """One closed-loop client.  ``root`` is the directory its writes go
    to; ``input_rows``/``input_bytes`` describe the measured input."""

    name = ""

    def __init__(self, spark, tracer, work_dir: str, seed: int, size: dict):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.size = size
        self.counts = Counts()
        self.root = ""
        self.input_rows = 0
        self.input_bytes = 0

    def op(self, kind: str, fn, verify, writes: str | None = None):
        """Run ``fn`` under a span, timed, and check its result with
        ``verify(result)``, untimed.  When ``fn`` writes under the
        directory ``writes``, the bytes of the files it created are
        counted.  Returns the result, or ``None`` when the call raised or
        the check failed (counted, not fatal)."""
        c = self.counts
        c.attempted += 1
        before = listing(writes) if writes else {}
        try:
            c0, t0 = cpu_s(), time.perf_counter()
            try:
                with self.tracer.span(kind):
                    out = fn()
            finally:
                c.wall_s += time.perf_counter() - t0
                c.cpu_s += cpu_s() - c0
                if writes:
                    c.bytes_written += sum(
                        n for p, n in listing(writes).items() if p not in before)
            verify(out)
        except Exception as e:
            c.failed += 1
            c.errors.append(f"{kind}: {type(e).__name__}: {e}"[:400])
            return None
        return out

    def traced_write(self, name: str, root: str, fn):
        """``fn()`` under span ``name``; a traced span also records the
        files and bytes written under ``root`` and the files removed."""
        before = listing(root) if self.tracer.enabled else None
        with self.tracer.span(name) as rec:
            out = fn()
        if rec is not None:
            after = listing(root)
            new = [s for p, s in after.items() if p not in before]
            rec["files_written"], rec["bytes_written"] = len(new), sum(new)
            rec["files_deleted"] = len(set(before) - set(after))
        return out

    def generate(self) -> None:
        """Write the inputs (not timed)."""

    def setup(self) -> None:
        """Work before the measured iteration (in ``setup_s``)."""

    def iteration(self) -> None:
        """The measured iteration on the full input."""


# ---------------------------------------------------------------------------
# medallion_daily
# ---------------------------------------------------------------------------

RAW_SCHEMA = T.StructType(
    [
        T.StructField(h, t, True)
        for h, (_n, t, _g) in zip(gen.RAW_HEADERS, PROPERTY_RAW_COLUMNS)
    ]
)
AUDIT_NULL_COLS = {"silver": ["tax_rate"], "valuation": ["list_price"]}


class MedallionDaily(Workload):
    """One iteration is one day: bronze landing, explicit-schema read,
    the medallion plan, and the committed write of silver plus six gold
    tables with audits.  The set-up's warm-up day lands first, so the
    measured day commits over it and collects the generation before."""

    name = "medallion_daily"

    def generate(self) -> None:
        landing = os.path.join(self.work, "landing")
        self.warm = gen.gen_medallion([self.seed, 1], self.size["warm"],
                                      os.path.join(landing, "warm"))
        self.f = gen.gen_medallion(self.seed, self.size["rows"],
                                   os.path.join(landing, "day"))
        self.input_rows = self.f["rows"]
        self.input_bytes = self.f["input_bytes"]
        self.root = os.path.join(self.work, "lake")

    def setup(self) -> None:
        self.day(self.warm, "warmup")

    def iteration(self) -> None:
        self.day(self.f, "day")

    def day(self, f: dict, label: str) -> None:
        spark, t, out = self.spark, self.tracer, self.root

        def run():
            with t.span("files.ingest_bronze", op=label):
                _, bronze = ingest_bronze(spark, f["raw_path"],
                                          os.path.join(out, "bronze"),
                                          schema=RAW_SCHEMA)
            with t.span("files.read"):
                raw = read_csv(spark, bronze, schema=RAW_SCHEMA)
                fc = read_csv(spark, f["field_config_path"],
                              schema=FIELD_CONFIG_SCHEMA)
            with t.span("medallion.build"):
                res = run_medallion(raw, fc)
            self.traced_write("medallion.write", out, lambda: write_medallion(
                res, out, audit_null_cols=AUDIT_NULL_COLS, commit_keep_last=2))
            return res

        def verify(res):
            a = res.audits
            n = f["rows"]
            for tbl in ("silver", "property", "leads", "rehab", "valuation"):
                check(a[tbl]["n_rows"] == n, f"{tbl} rows {a[tbl]['n_rows']} != {n}")
            check(a["hoa"]["n_rows"] == f["distinct_hoa"], "hoa dim rows")
            check(a["taxes"]["n_rows"] == f["distinct_taxes"], "taxes dim rows")
            check(a["silver"]["n_null_tax_rate"] == f["nulls"]["tax_rate"],
                  "silver tax_rate nulls")
            check(a["valuation"]["n_null_list_price"] == f["nulls"]["list_price"],
                  "valuation list_price nulls")
            ids = read_resolved(spark, f"{out}/gold/property").agg(
                F.countDistinct("property_id").alias("d"),
                F.max("property_id").alias("m"),
            ).first()
            check(ids["d"] == ids["m"] == f["distinct_property"],
                  f"property ids {ids} != {f['distinct_property']}")

        self.op(label, run, verify, writes=out)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

CLUSTER_SCHEMA = "doc_id long, cluster_id long, emb_cluster_id long"


def compact(spark, root: str, keep_last: int = 1) -> int:
    """Compactor for ``maintenance_cycle``: rewrite the current
    generation into one file per core as a new committed generation."""
    n = spark.sparkContext.defaultParallelism
    return commit_parquet_generation(
        spark, read_resolved(spark, root).coalesce(n), root, keep_last=keep_last
    )


class CorpusDedup(Workload):
    """The LLM-data operators and the manifest table that serves their
    result: the training-prep funnel, MinHash near-dup pairs and their
    clusters, embedding near-dup pairs and their clusters; the cluster
    labels are committed as a generation with a ``doc_id`` bloom
    sidecar, point-read back by ``bloom_point_scan`` and ``lookup_join``,
    and compacted by one ``maintenance_cycle``."""

    name = "corpus_dedup"
    JACCARD = 0.6

    def generate(self) -> None:
        """The corpus, its facts, and its inputs as parquet files written
        without Spark."""
        n_docs = self.size["docs"]
        f = self.f = gen.gen_corpus(self.seed, n_docs, self.size["dim"])
        # The per-source cap binds: about 60% of docs survive the funnel
        # before it, spread over 8 sources.
        f["cap"] = max(5, n_docs // 16)
        f["expected_prep"] = expected_prep(f, f["cap"], self.JACCARD)
        f["exact_groups"] = exact_groups(f)
        d = os.path.join(self.work, "corpus")
        os.makedirs(d, exist_ok=True)
        f["docs_path"] = os.path.join(d, "docs.parquet")
        f["emb_path"] = os.path.join(d, "emb.parquet")
        pd.DataFrame(f["docs"], columns=["doc_id", "text", "lang", "source",
                                         "n_chars"]).to_parquet(
            f["docs_path"], index=False)
        pd.DataFrame({"vec_id": range(len(f["vectors"])),
                      "embedding": list(f["vectors"])}).to_parquet(
            f["emb_path"], index=False)
        self.input_rows = n_docs
        self.input_bytes = f["input_bytes"]
        self.root = os.path.join(self.work, "clusters")

    def iteration(self) -> None:
        spark, t, f = self.spark, self.tracer, self.f
        out = self.op("dedup", lambda: self.dedup(f),
                      lambda o: self.verify(f, o))
        if out is None:
            return
        ec = {r["vec_id"]: r["cluster_id"] for r in out["eclusters"]}
        rows = {r["doc_id"]: (r["doc_id"], r["cluster_id"], ec[r["doc_id"]])
                for r in out["clusters"]}
        table = spark.createDataFrame(sorted(rows.values()), CLUSTER_SCHEMA)
        self.op("commit", lambda: self.traced_write(
            "manifest.commit", self.root, lambda: commit_parquet_generation(
                spark, table, self.root, keep_last=2, bloom_cols=("doc_id",))),
            lambda _seq: self.verify_table(rows), writes=self.root)

        # Point reads of the fresh generation: keys of multi-member
        # clusters, random docs, and one absent id (an empty answer).
        rng = random.Random(self.seed)
        dups = sorted(d for d, c, _e in rows.values() if d != c)
        for i in range(self.size["lookups"]):
            keys = rng.sample(dups, min(len(dups), 1 + i % 3))
            keys += [rng.randrange(len(rows)), len(rows) + i]
            want = {rows[k] for k in keys if k in rows}
            if i % 2 == 0:
                name = "manifest.bloom_point_scan"
                fn = (lambda k=keys: bloom_point_scan(spark, self.root,
                                                      "doc_id", k))
            else:
                name = "manifest.lookup_join"
                probes = spark.createDataFrame([(k,) for k in keys], "doc_id long")
                fn = (lambda p=probes: lookup_join(spark, self.root, p,
                                                   on="doc_id"))

            def read(fn=fn, name=name):
                with t.span(name) as rec:
                    if rec is not None:
                        rec["gen_files"] = generation_files(spark, self.root)
                    return fn().select("doc_id", "cluster_id",
                                       "emb_cluster_id").collect()

            self.op("lookup", read, lambda got, want=want: check(
                len(got) == len(want) and {tuple(r) for r in got} == want,
                "lookup rows differ from the committed clusters"))

        # No reader runs beside the maintenance, so it keeps no grace
        # generation and collects the committed one.
        self.op("maintenance", lambda: self.traced_write(
            "manifest.maintenance", self.root, lambda: maintenance_cycle(
                spark, self.root, compact, keep_last=1,
                bloom_cols=("doc_id",))),
            lambda rep: (check(not rep["issues"], "fsck issues"),
                         self.verify_table(rows)), writes=self.root)

    def dedup(self, f: dict) -> dict:
        spark, t = self.spark, self.tracer
        out: dict = {}
        docs = spark.read.parquet(f["docs_path"])
        emb = spark.read.parquet(f["emb_path"])
        with t.span("prep.prepare_training_corpus") as rec:
            out["prep"] = prepare_training_corpus(
                docs, cap_per_source=f["cap"], jaccard_threshold=self.JACCARD
            ).collect()
        if rec is not None:
            rec["survivor_frac"] = len(out["prep"]) / len(f["docs"])
        with t.span("dedup.near_dup_pairs") as rec:
            pairs = near_dup_pairs(docs).persist()
            out["pairs"] = pairs.collect()
        if rec is not None:
            rec["pairs_out"] = len(out["pairs"])
        with t.span("graph.assign_clusters"):
            out["clusters"] = assign_clusters(docs, pairs).collect()
        with t.span("similarity.embedding_near_dup_pairs"):
            epairs = embedding_near_dup_pairs(emb, dim=self.size["dim"]).persist()
            out["epairs"] = epairs.collect()
        with t.span("graph.assign_clusters"):
            out["eclusters"] = assign_clusters(emb, epairs, id_col="vec_id").collect()
        pairs.unpersist()
        epairs.unpersist()
        release_caches()
        return out

    def verify_table(self, rows: dict) -> None:
        got = read_resolved(self.spark, self.root).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cluster_id").alias("c"),
            F.sum("emb_cluster_id").alias("e"),
        ).first()
        want = (len(rows), sum(r[1] for r in rows.values()),
                sum(r[2] for r in rows.values()))
        check(tuple(got) == want, f"cluster table {tuple(got)} != {want}")

    def verify(self, f: dict, out: dict) -> None:
        got = {(r["doc_id"], r["source"], r["lang"]) for r in out["prep"]}
        check(len(got) == len(out["prep"]), "prep rows not distinct")
        check(got == f["expected_prep"],
              f"prep survivors {len(got)} != {len(f['expected_prep'])}")
        texts = {d[0]: d[1] for d in f["docs"]}
        pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in out["pairs"]]
        check(all(a < b and j >= 0.5 for a, b, j in pairs), "pair order/threshold")
        for a, b, j in random.Random(self.seed).sample(pairs, min(50, len(pairs))):
            check(abs(jaccard3(texts[a], texts[b]) - j) < 1e-9,
                  "pair jaccard recompute")
        found = {(a, b) for a, b, _ in pairs}
        for grp in f["exact_groups"]:
            for b in grp[1:]:
                check((grp[0], b) in found, "exact duplicate pair missing")
        cl = {r["doc_id"]: r["cluster_id"] for r in out["clusters"]}
        check(len(cl) == len(f["docs"]), "cluster rows")
        check(all(c <= d and cl[c] == c for d, c in cl.items()), "cluster ids")
        for a, b, _ in pairs:
            check(cl[a] == cl[b], "pair split across clusters")
        vecs = f["vectors"]
        epairs = [(r["id_a"], r["id_b"], r["cosine"]) for r in out["epairs"]]
        check(all(a < b and c >= 0.95 for a, b, c in epairs), "emb pair order")
        for a, b, c in random.Random(self.seed).sample(epairs, min(50, len(epairs))):
            check(abs(float(vecs[a].astype(np.float64) @ vecs[b].astype(np.float64))
                      - c) < 1e-5, "cosine recompute")
        ecl = {r["vec_id"]: r["cluster_id"] for r in out["eclusters"]}
        check(len(ecl) == len(vecs), "emb cluster rows")
        for a, b, _ in epairs:
            check(ecl[a] == ecl[b], "emb pair split across clusters")
        efound = {(a, b) for a, b, _ in epairs}
        recall = sum(p in efound for p in f["emb_pairs"]) / max(1, len(f["emb_pairs"]))
        check(recall >= 0.9, f"emb pair recall {recall:.3f} < 0.9")


def generation_files(spark, root: str) -> int:
    """Data files of the current generation: the denominator of
    ``manifest.prune_ratio``."""
    gen_dir = resolve_data_root(spark, root).removeprefix("file:")
    return sum(1 for f in os.listdir(gen_dir)
               if f.startswith("part-") and not f.endswith(".crc"))


def words3(text: str) -> set:
    w = text.strip(" ").lower().split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = words3(a), words3(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def exact_groups(f: dict) -> list[list[int]]:
    by_text: dict[str, list[int]] = {}
    for d in f["docs"]:
        by_text.setdefault(d[1], []).append(d[0])
    return [sorted(g) for g in by_text.values() if len(g) > 1]


def _passes_quality(text: str, quality_min: float = 0.35) -> bool:
    """Python replica of text.quality_lang_pred_expr for generated text
    (lowercase words, single spaces, no punctuation): same double ops."""
    ws = text.strip(" ").lower().split(" ")
    n = float(len(ws))
    ratios = {
        lang: sum(1 for w in ws if w in stop) / n
        for lang, stop in gen_stopwords().items()
    }
    raw = 0.5 * ratios["en"] + 0.5 * min(1.0, n / 50.0) - 0.25 * 0.0
    q = min(1.0, max(0.0, raw))
    en = ratios["en"] >= ratios["de"] and ratios["en"] >= ratios["fr"]
    return q >= quality_min and en


def gen_stopwords() -> dict:
    from airflow_etl_minio_to_postgres_spark.functions.text import STOPWORDS

    return {k: set(v) for k, v in STOPWORDS.items()}


def expected_prep(f: dict, cap: int, threshold: float) -> set:
    """The funnel's exact survivors: quality/language pass, lowest id of
    each exact text, not the higher id of any pair of word-3-gram Jaccard
    at least ``threshold`` among those, then the per-source cap by
    sha256-of-id order.  Only injected copies can reach the threshold, so
    pairs are searched within injection families."""
    import hashlib

    docs = {d[0]: d for d in f["docs"]}
    kept = [i for i in sorted(docs) if _passes_quality(docs[i][1])]
    first: dict[str, int] = {}
    for i in kept:
        first.setdefault(docs[i][1], i)
    deduped = set(first.values())
    parent = {i: i for i in docs}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in f["exact_pairs"] + f["near_pairs"]:
        parent[root(b)] = root(a)
    fam: dict[int, list[int]] = {}
    for i in deduped:
        fam.setdefault(root(i), []).append(i)
    losers = set()
    for members in fam.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if jaccard3(docs[a][1], docs[b][1]) >= threshold:
                    losers.add(b)
    survivors = sorted(deduped - losers)
    by_src: dict[str, list[int]] = {}
    for i in survivors:
        by_src.setdefault(docs[i][3], []).append(i)
    out = set()
    for src, ids in by_src.items():
        ids.sort(key=lambda i: (hashlib.sha256(str(i).encode()).hexdigest()[:16], i))
        out.update((i, src, "en") for i in ids[:cap])
    return out


WORKLOADS = {
    "medallion_daily": MedallionDaily,
    "corpus_dedup": CorpusDedup,
}
