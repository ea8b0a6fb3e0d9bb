#!/usr/bin/env python3
"""Rank self time per layer from a traced run, and show the tracing
overhead against the untraced run of the same workload and seed.

    python3 perfbench/report.py .bench_results/medallion_daily-seed1-trace1.spans.json

A span's layer is the module prefix of its name (``manifest`` for
``manifest.commit``); the container spans the client opens around an
operation (``iteration``, ``day``, ``commit``, ...) are reported as
``client``: their self time is driver work outside any layer call.
"""

from __future__ import annotations

import json
import os
import sys

from spans import self_times


def layer_of(name: str) -> str:
    return name.split(".", 1)[0] if "." in name else "client"


def rank(spans: list[dict], phase: str = "run") -> list[tuple]:
    """(layer, span name, calls, self seconds, jobs) sorted by self time."""
    rows: dict[str, list] = {}
    selfs = self_times(spans)
    for s, t in zip(spans, selfs):
        if s["phase"] != phase:
            continue
        r = rows.setdefault(s["name"], [layer_of(s["name"]), s["name"], 0, 0.0, 0])
        r[2] += 1
        r[3] += t
        children_jobs = sum(c["spark"]["jobs"] for c in spans
                            if c["parent"] == s["id"])
        r[4] += s["spark"]["jobs"] - children_jobs
    return sorted((tuple(r) for r in rows.values()), key=lambda r: -r[3])


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        trace = json.load(f)
    spans = trace["spans"]
    rows = rank(spans)
    total = sum(r[3] for r in rows) or 1.0
    print(f"{'layer':12s} {'span':40s} {'calls':>5s} {'self_s':>9s} "
          f"{'share':>6s} {'jobs':>5s}")
    for layer, name, calls, self_s, jobs in rows:
        print(f"{layer:12s} {name:40s} {calls:5d} {self_s:9.3f} "
              f"{100 * self_s / total:5.1f}% {jobs:5d}")
    by_layer: dict[str, float] = {}
    for layer, _n, _c, self_s, _j in rows:
        by_layer[layer] = by_layer.get(layer, 0.0) + self_s
    print()
    for layer, self_s in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"{layer:12s} {self_s:9.3f} s {100 * self_s / total:5.1f}%")

    untraced = argv[0].replace("-trace1.spans.json", "-trace0.json")
    traced = argv[0].replace(".spans.json", ".json")
    if os.path.exists(untraced) and os.path.exists(traced):
        with open(untraced) as f:
            u = json.load(f)
        with open(traced) as f:
            t = json.load(f)
        base = {**u["end_to_end"], **u["ungated"]}
        tr = {**t["end_to_end"], **t["ungated"]}
        print("\nend-to-end, untraced vs traced (difference = tracing overhead)")
        for k in base:
            if k in tr and base[k]:
                print(f"{k:30s} {base[k]:12.4f} {tr[k]:12.4f} "
                      f"{100 * (tr[k] - base[k]) / base[k]:+6.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
