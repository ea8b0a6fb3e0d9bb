"""End-to-end metrics of an untraced run and per-layer metrics of a
traced one.  Names and units match BENCHMARK.json."""

from __future__ import annotations

import re
import statistics


def end_to_end(wl, sample: dict | None, setup_cpu_s: float,
               rss_mb: float) -> dict:
    """name -> (value, unit) of the run.

    Set-up and throughput are measured in CPU seconds (driver, JVM and
    Python workers): the time the host gives other guests (steal)
    stretched wall times by up to 75% from run to run, more than any
    allowed bound, and moves CPU time far less.  Wall-clock figures are
    in ``ungated``."""
    s = sample or {"wall_s": float("inf"), "cpu_s": float("inf"),
                   "written_per_input": 0.0}
    return {
        "setup_s": (setup_cpu_s, "s"),
        "rows_per_cpu_s": (wl.input_rows / s["cpu_s"], "rows/cpu_s"),
        "bytes_written_per_input_byte": (s["written_per_input"], "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def ungated(wl, sample: dict | None) -> dict:
    """Wall-clock figures, printed and saved beside the metrics."""
    s = sample or {"wall_s": float("inf"), "cpu_s": 0.0, "setup_wall_s": 0.0}
    return {
        "setup_wall_s": (s["setup_wall_s"], "s"),
        "rows_per_s": (wl.input_rows / s["wall_s"], "rows/s"),
        "iteration_s": (s["wall_s"], "s"),
        "iteration_cpu_s": (s["cpu_s"], "s"),
    }


# Span names of the benchmark's calls, grouped by the layer metric they
# feed.
COMMIT_SPANS = ("manifest.commit", "medallion.write")
LOOKUP_SPANS = ("manifest.lookup_join", "manifest.bloom_point_scan")
WRITE_TABLES = ("silver", "property", "hoa", "taxes", "leads", "rehab",
                "valuation")
_WRITE_PATH = re.compile(r"/(silver|gold/([a-z_]+))/_gen-\d+")


def _num(text: str) -> float:
    """First number of a formatted SQL metric ("1,234", "total (min, med,
    max)\\n3.2 s (...)", "12.0 MiB ...") in base units: s, bytes, count."""
    body = text.split("\n")[-1]
    m = re.search(r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b", body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    scale = {"ms": 1e-3, "m": 60, "h": 3600, "KiB": 2**10, "MiB": 2**20,
             "GiB": 2**30, "TiB": 2**40}
    return v * scale.get(m.group(2) or "", 1)


def _node_metric(span: dict, node_pred, metric: str) -> float:
    return sum(
        _num(n["metrics"][metric])
        for e in span.get("sql", [])
        for n in e["nodes"]
        if node_pred(n) and metric in n["metrics"]
    )


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(tracer, session_s: float) -> dict:
    """Per-layer metrics of the measured iteration's spans."""
    spans = tracer.spans
    ran = [i for i, s in enumerate(spans) if s["phase"] == "run"]
    iteration = next(i for i in ran if spans[i]["name"] == "iteration")
    # The client's operations (the iteration's direct children); the
    # checks run outside them, so their Spark jobs are not counted.
    ops = [i for i in ran if spans[i]["parent"] == iteration]

    def dur(i):
        return spans[i]["end"] - spans[i]["start"]

    def named(*names):
        return [i for i in ran if spans[i]["name"] in names]

    def med_dur(*names):
        return _med(dur(i) for i in named(*names))

    def med_field(key, *names):
        return _med(spans[i].get(key, 0) for i in named(*names))

    def ops_count(counter):
        return sum(spans[i]["spark"][counter] for i in ops)

    def data_scan(n):
        return n["name"].startswith("Scan") and "word_idx#" not in n["desc"] \
            and "_manifests" not in n["desc"]

    out: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "files.ingest_bronze_s": (med_dur("files.ingest_bronze"), "s"),
        "files.scan_bytes": (ops_count("input_bytes"), "bytes"),
        "medallion.build_s": (med_dur("medallion.build"), "s"),
        "medallion.build_jobs": (sum(spans[i]["spark"]["jobs"]
                                     for i in named("medallion.build")), "count"),
        "medallion.write_s": (med_dur("medallion.write"), "s"),
    }
    acc = dict.fromkeys(WRITE_TABLES, 0.0)
    for i in named("medallion.write"):
        for e in spans[i]["sql"]:
            for n in e["nodes"]:
                m = _WRITE_PATH.search(n["desc"]) if "InsertInto" in n["name"] else None
                if m and e["s"] is not None:
                    acc[m.group(2) or "silver"] += e["s"]
    for t in WRITE_TABLES:
        out[f"medallion.write_s.{t}"] = (acc[t], "s")

    lookups = named(*LOOKUP_SPANS)
    scanned = {i: _node_metric(spans[i], data_scan, "number of files read")
               for i in lookups}
    out.update({
        "manifest.commit_s": (med_dur(*COMMIT_SPANS), "s"),
        "manifest.bytes_written": (med_field("bytes_written", *COMMIT_SPANS),
                                   "bytes"),
        "manifest.files_written": (med_field("files_written", *COMMIT_SPANS),
                                   "count"),
        "manifest.lookup_s": (med_dur(*LOOKUP_SPANS), "s"),
        "manifest.files_scanned_per_lookup": (_med(scanned.values()), "count"),
        "manifest.prune_ratio": (_med(
            scanned[i] / spans[i]["gen_files"] for i in lookups
            if spans[i].get("gen_files")), "ratio"),
        "manifest.maintenance_s": (med_dur("manifest.maintenance"), "s"),
        "manifest.bytes_rewritten": (med_field("bytes_written",
                                               "manifest.maintenance"), "bytes"),
        "manifest.gc_files_deleted": (med_field("files_deleted",
                                                "manifest.maintenance"), "count"),
    })

    pairs = named("dedup.near_dup_pairs")
    emb = named("similarity.embedding_near_dup_pairs")

    def band_join_rows(i):
        return _node_metric(spans[i], lambda n: "Join" in n["name"]
                            and "band_key" in n["desc"], "number of output rows")

    def python_s(i, metrics):
        """Task-summed Python worker time of the span's Arrow/pandas
        nodes, for the named SQL metrics."""
        return sum(
            _num(v)
            for e in spans[i]["sql"] for n in e["nodes"]
            if any(k in n["name"] for k in ("Python", "Pandas", "Arrow"))
            for k, v in n["metrics"].items() if k in metrics
        )

    cc = named("graph.assign_clusters")
    out.update({
        "prep.s": (med_dur("prep.prepare_training_corpus"), "s"),
        "prep.survivor_frac": (med_field("survivor_frac",
                                         "prep.prepare_training_corpus"), "ratio"),
        "dedup.pairs_s": (med_dur("dedup.near_dup_pairs"), "s"),
        "dedup.pairs_out": (med_field("pairs_out", "dedup.near_dup_pairs"),
                            "count"),
        "dedup.candidates_per_pair": (_med(
            band_join_rows(i) / spans[i]["pairs_out"] for i in pairs
            if spans[i].get("pairs_out")), "ratio"),
        "similarity.emb_pairs_s": (med_dur("similarity.embedding_near_dup_pairs"),
                                   "s"),
        "similarity.python_ms": (_med(
            python_s(i, ("time to run Python workers",)) * 1e3 for i in emb), "ms"),
        "similarity.python_init_ms": (_med(
            python_s(i, ("time to start Python workers",
                         "time to initialize Python workers")) * 1e3
            for i in emb), "ms"),
        "graph.cc_s": (sum(dur(i) for i in cc), "s"),
        "graph.jobs": (sum(spans[i]["spark"]["jobs"] for i in cc), "count"),
    })
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "planning_ms": "ms", "exec_run_s": "s", "exec_cpu_s": "s",
             "gc_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    for k, unit in units.items():
        out[f"spark.{k}"] = (ops_count(k), unit)
    out["trace.overhead_frac"] = (tracer.overhead_s / dur(iteration), "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}
