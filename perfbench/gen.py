"""Seeded input generators, one per workload.

Each generator writes or returns only plain inputs (files, rows, arrays)
and, beside them, the facts the checks need: expected row counts,
distinct keys, injected duplicate pairs.
The engine never sees the facts; the same seed gives the same inputs and
facts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyarrow import csv as pacsv

from airflow_etl_minio_to_postgres_spark.functions.text import STOPWORDS
from airflow_etl_minio_to_postgres_spark.schemas import PROPERTY_RAW_COLUMNS

# Raw CSV header casing of the reference workbook (FIXTURES.md A1), in
# schemas.PROPERTY_RAW_COLUMNS order; naming.standardize maps each header
# to its standardized name.
RAW_HEADERS = [
    "Property_Title", "Address", "Reviewed_Status", "Most_Recent_Status",
    "Source", "Market", "Occupancy", "Flood", "Street_Address", "City",
    "State", "Zip", "Property_Type", "Highway", "Train", "Tax_Rate",
    "SQFT_Basement", "HTW", "Pool", "Commercial", "Water", "Sewage",
    "Year_Built", "SQFT_MU", "SQFT_Total", "Parking", "Bed", "Bath",
    "BasementYesNo", "Layout", "Net_Yield", "IRR", "Rent_Restricted",
    "Neighborhood_Rating", "Previous_Rent", "List_Price", "Zestimate", "ARV",
    "Expected_Rent", "Rent_Zestimate", "Low_FMR", "High_FMR", "HOA",
    "Underwriting_Rehab", "Rehab_Calculation", "Paint", "Flooring_Flag",
    "Foundation_Flag", "Roof_Flag", "HVAC_Flag", "Kitchen_Flag",
    "Bathroom_Flag", "Appliances_Flag", "Windows_Flag", "Landscaping_Flag",
    "Trashout_Flag", "Latitude", "Longitude", "Subdivision", "Taxes",
    "Redfin_Value", "Selling_Reason", "Seller_Retained_Broker", "HOA_Flag",
    "Final_Reviewer", "School_Average",
]

EMPTY_FRAC = 0.03
KEY_HEADERS = {"Property_Title", "Zip"}
HOA_VALUES = np.arange(0, 550, 50)
TAX_CARDINALITY = 300


def _noisy(rng: np.random.Generator, vocab: list[str], idx: np.ndarray) -> np.ndarray:
    """Case and ASCII-space noise that Spark's ``lower(trim(.))`` undoes
    (Spark trims only 0x20, so no other whitespace is used)."""
    variants = np.array(
        [f(w) for w in vocab for f in (
            lambda w: w,
            lambda w: w.upper(),
            lambda w: "  " + w.title() + " ",
            lambda w: " " + w,
        )],
        dtype=object,
    )
    return variants[idx * 4 + rng.integers(0, 4, idx.size)]


def _clean(s: str) -> str:
    s = s.strip(" ").lower()
    return s if s else "unknown"


def gen_medallion(seed: int | list[int], rows: int, out_dir: str) -> dict:
    """Raw 66-column property CSV + field-config CSV under ``out_dir``.

    Each property appears about three times (Poisson), key columns carry
    case/space noise but are never empty, every other cell is empty with
    probability ``EMPTY_FRAC``, and hoa/taxes are low-cardinality.
    """
    rng = np.random.default_rng(seed)
    n_props = max(1, rows // 3)
    prop = rng.integers(0, n_props, rows)
    cols: dict[str, np.ndarray] = {}
    empties: dict[str, np.ndarray] = {}
    for header, (name, dtype, _target) in zip(RAW_HEADERS, PROPERTY_RAW_COLUMNS):
        kind = dtype.typeName()
        if header == "Property_Title":
            vocab = [f"Property {p:07d}" for p in range(n_props)]
            col = _noisy(rng, vocab, prop)
        elif header == "Zip":
            zips = np.char.mod("%05d", 10000 + (prop * 7919) % 89999).astype(object)
            pad = rng.integers(0, 2, rows).astype(bool)
            col = np.where(pad, " " + zips + " ", zips)
        elif header == "HOA":
            col = np.char.mod("%d", rng.choice(HOA_VALUES, rows)).astype(object)
        elif header == "Taxes":
            col = np.char.mod(
                "%d", 1000 + 37 * rng.integers(0, TAX_CARDINALITY, rows)
            ).astype(object)
        elif header == "HOA_Flag":
            col = _noisy(rng, ["yes", "no"], rng.integers(0, 2, rows))
        elif kind == "string":
            card = 8 if name.endswith("_flag") else 40
            vocab = [f"{name} {j}" for j in range(card)]
            col = _noisy(rng, vocab, rng.integers(0, card, rows))
        elif kind == "long":
            col = rng.integers(0, 5000, rows).astype(str).astype(object)
        else:  # decimal(p, s)
            p, s = dtype.precision, dtype.scale
            hi = 10 ** (p - s) - 1
            vals = rng.uniform(0, min(hi, 10_000_000), rows)
            col = np.char.mod(f"%.{s}f", vals).astype(object)
        if header not in KEY_HEADERS:
            empty = rng.random(rows) < EMPTY_FRAC
            col = np.where(empty, "", col)
            empties[name] = empty
        cols[header] = col

    os.makedirs(out_dir, exist_ok=True)
    raw_path = os.path.join(out_dir, "Property Export.csv")
    # Empty cells are written as empty, unquoted fields.
    pacsv.write_csv(
        pa.table({h: pa.array(c, type=pa.string(), mask=c == "")
                  for h, c in cols.items()}),
        raw_path, pacsv.WriteOptions(quoting_style="needed"),
    )
    fc_path = os.path.join(out_dir, "field_config.csv")
    pd.DataFrame(
        {
            "column_name": RAW_HEADERS,
            "target_table": [t for _, _, t in PROPERTY_RAW_COLUMNS],
        }
    ).to_csv(fc_path, index=False)

    keys = {(_clean(t), _clean(z)) for t, z in zip(cols["Property_Title"], cols["Zip"])}
    hoa = [
        (int(h) if h else -1, _clean(f))
        for h, f in zip(cols["HOA"], cols["HOA_Flag"])
    ]
    taxes = {int(t) if t else -1 for t in cols["Taxes"]}
    return {
        "raw_path": raw_path,
        "field_config_path": fc_path,
        "rows": rows,
        "input_bytes": os.path.getsize(raw_path),
        "distinct_property": len(keys),
        "distinct_hoa": len(set(hoa)),
        "distinct_taxes": len(taxes),
        "nulls": {name: int(m.sum()) for name, m in empties.items()},
    }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

N_SOURCES = 8
_CONTENT_WORDS = [f"w{i}" for i in range(4000)]


def gen_corpus(seed: int | list[int], n_docs: int, dim: int) -> dict:
    """Documents and embeddings with injected duplicates.

    Docs are 30-120 words, about 30% English stopwords (the engine's own
    list), so most pass the training funnel's quality and language
    filters.  20% are copies of an earlier doc: half verbatim (exact
    duplicates), half with one word replaced (near duplicates).
    Embeddings are unit ``dim``-dimensional Gaussians; 20% are small
    perturbations of an earlier vector.
    """
    rng = np.random.default_rng(seed)
    stop = np.array(STOPWORDS["en"], dtype=object)
    content = np.array(_CONTENT_WORDS, dtype=object)
    texts: list[str] = []
    exact_pairs: list[tuple[int, int]] = []
    near_pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            if rng.random() < 0.5:
                exact_pairs.append((j, i))
            else:
                pos = int(rng.integers(0, len(words)))
                words[pos] = str(content[int(rng.integers(0, content.size))])
                near_pairs.append((j, i))
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(30, 121))
        is_stop = rng.random(n) < 0.3
        words = np.where(
            is_stop,
            stop[rng.integers(0, stop.size, n)],
            content[rng.integers(0, content.size, n)],
        )
        texts.append(" ".join(words))
    sources = [f"src{int(s)}" for s in rng.integers(0, N_SOURCES, n_docs)]

    vecs = rng.standard_normal((n_docs, dim))
    emb_pairs: list[tuple[int, int]] = []
    for i in range(11, n_docs):
        if rng.random() < 0.2:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.01 * rng.standard_normal(dim)
            emb_pairs.append((j, i))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "docs": [
            (i, texts[i], "en", sources[i], len(texts[i])) for i in range(n_docs)
        ],
        "vectors": vecs.astype(np.float32),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "emb_pairs": emb_pairs,
        "input_bytes": sum(len(t) for t in texts) + vecs.size * 4,
    }
