"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``), so the
same seed writes the same bytes and a different seed writes different ones.
Nothing here imports Spark: the engine sees only the files written.

- ``write_corpus``: the ``documents`` and ``embeddings`` tables in the
  lake's schema, shaped like the repository's testdata (30-word vocabulary,
  10-99 word documents, 5% of documents are an earlier document plus the
  token ``dup``, random unit vectors with a 10-way label), then stacked into
  seed-keyed perturbed copies.  Copy ``c`` shifts every id by ``c*STRIDE``,
  suffixes every token with a per-copy tag and flips the sign of a per-copy
  set of embedding dimensions, so each copy keeps the source's internal
  near-duplicate and cosine structure while cross-copy similarity drops to
  noise.
- ``emissions_raw_csv``: one raw EEA-style CSV drop (FIXTURES.md F1) with
  every edge row the reference pipeline must handle.
- ``write_preload``: the warehouse's starting contents, one cleaned row per
  key over a key space widened with generated Category labels.
"""

from __future__ import annotations

import csv
import hashlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
N_LABELS = 10
STRIDE = 1_000_000

# The reference's 30-code country map (plans/emissions.py) is not imported:
# the generator must not depend on the engine it feeds.  Codes outside it
# exercise the pipeline's filter.
COUNTRIES = {
    "AT": "Austria", "BE": "Belgium", "BG": "Bulgaria", "HR": "Croatia",
    "CY": "Cyprus", "CZ": "Czechia", "DK": "Denmark", "EE": "Estonia",
    "FI": "Finland", "FR": "France", "DE": "Germany", "EL": "Greece",
    "HU": "Hungary", "IS": "Iceland", "IE": "Ireland", "IT": "Italy",
    "LV": "Latvia", "LT": "Lithuania", "LU": "Luxembourg", "MT": "Malta",
    "NL": "Netherlands", "NO": "Norway", "PL": "Poland", "PT": "Portugal",
    "RO": "Romania", "SK": "Slovakia", "SI": "Slovenia", "ES": "Spain",
    "SE": "Sweden", "CH": "Switzerland",
}
UNMAPPED_CODES = ["XX", "GB", "UA"]
YEARS = list(range(2015, 2051))
SCENARIOS = ["WEM", "WAM", "WOM"]
REFERENCE_CATEGORIES = [
    "Energy",
    "Agriculture",
    "Waste",
    "Industrial Processes",
    "Land Use, Land-Use Change and Forestry",
]
TOTAL_GAS_RAW = "Total GHG emissions (ktCO2e)"
TOTAL_GAS = "Total GHG emissions"
OTHER_GASES = ["CO2", "CH4", "N2O"]
UNIT = "kt CO2 equivalent"
RAW_HEADER = [
    "CountryCode", "Year", "Scenario", "Category", "Gas", "Reported Value",
    "InventorySubmissionYear", "Notation",
]
SELECTED = RAW_HEADER[:6]


def categories(n: int) -> list[str]:
    """The reference's five categories widened to ``n`` labels."""
    extra = [f"Sector {i:03d}" for i in range(n - len(REFERENCE_CATEGORIES))]
    return REFERENCE_CATEGORIES + extra


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _copy_tag(seed: int, copy: int) -> str:
    return "x" + hashlib.sha256(f"{seed}:{copy}".encode()).hexdigest()[:4]


def base_corpus(seed: int, n_docs: int, n_vecs: int):
    """The unscaled corpus: (doc texts, langs, vectors, labels)."""
    rng = _rng(seed, 1)
    lengths = rng.integers(10, 100, n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in lengths]
    # 5% near-duplicates: an earlier original plus one token
    dups = np.sort(rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False))
    is_dup = np.zeros(n_docs, bool)
    is_dup[dups] = True
    for i in dups:
        originals = np.flatnonzero(~is_dup[:i])
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    vecs = rng.standard_normal((n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    return texts, langs, vecs, labels


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, copies: int) -> list[dict]:
    """Write ``documents.parquet`` and ``embeddings.parquet``; returns one
    record per table (rows, bytes)."""
    texts, langs, vecs, labels = base_corpus(seed, n_docs, n_vecs)
    doc_cols: dict[str, list] = {k: [] for k in ("doc_id", "text", "lang", "source", "n_chars")}
    emb_ids, emb_vecs, emb_labels = [], [], []
    for c in range(copies):
        tag = _copy_tag(seed, c)
        for i, text in enumerate(texts):
            if c:
                text = " ".join(w + tag for w in text.split(" "))
            doc_id = c * STRIDE + i
            doc_cols["doc_id"].append(doc_id)
            doc_cols["text"].append(text)
            doc_cols["lang"].append(str(langs[i]))
            doc_cols["source"].append(f"src{doc_id % N_SOURCES}")
            doc_cols["n_chars"].append(len(text))
        signs = np.where(_rng(seed, 2, c).integers(0, 2, DIM) == 1, -1.0, 1.0)
        emb_ids.append(c * STRIDE + np.arange(n_vecs, dtype=np.int64))
        emb_vecs.append((vecs * (signs if c else 1.0)).astype(np.float32))
        emb_labels.append(labels)
    docs = pa.table(
        doc_cols,
        schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
    )
    flat = np.concatenate(emb_vecs)
    emb = pa.table({
        "vec_id": pa.array(np.concatenate(emb_ids)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, flat.size + 1, DIM, dtype=np.int32)),
            pa.array(flat.reshape(-1)),
        ),
        "label": pa.array(np.concatenate(emb_labels)),
    })
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for name, table in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        out.append({"name": name, "rows": table.num_rows, "bytes": os.path.getsize(path)})
    return out


def emissions_raw_csv(seed: int, batch: int, n_rows: int, n_categories: int) -> str:
    """One raw CSV drop.  Edge rows (FIXTURES.md F1): a null in each of the
    6 selected columns, unmapped country codes, non-total Gas rows,
    duplicate keys carrying different values, and rows that differ only in
    the extra columns the pipeline projects away."""
    rng = _rng(seed, 3, batch)
    code_p = np.r_[np.full(len(COUNTRIES), 0.97 / len(COUNTRIES)), np.full(3, 0.01)]
    cols = [
        rng.choice(np.array(list(COUNTRIES) + UNMAPPED_CODES, dtype=object), n_rows, p=code_p),
        rng.choice(np.array([str(y) for y in YEARS], dtype=object), n_rows),
        rng.choice(np.array(SCENARIOS, dtype=object), n_rows),
        rng.choice(np.array(categories(n_categories), dtype=object), n_rows),
        rng.choice(np.array([TOTAL_GAS_RAW] + OTHER_GASES, dtype=object), n_rows,
                   p=[0.7, 0.1, 0.1, 0.1]),
        np.array([f"{v:.2f}" for v in rng.normal(2000, 3000, n_rows)], dtype=object),
        rng.choice(np.array([str(y) for y in range(2019, 2025)], dtype=object), n_rows),
        np.where(rng.random(n_rows) < 0.3, "E", None).astype(object),
    ]
    rows = np.stack(cols, axis=1)
    nulled = np.flatnonzero(rng.random(n_rows) < 0.06)
    rows[nulled, rng.integers(0, len(SELECTED), len(nulled))] = None
    roll = rng.random(n_rows)
    sources = (rng.random(n_rows) * np.arange(n_rows)).astype(np.int64)
    new_values = rng.normal(2000, 3000, n_rows)
    for i in np.flatnonzero((roll < 0.04) & (np.arange(n_rows) > 0)):
        rows[i] = rows[sources[i]]
        if roll[i] < 0.03:  # same key, different value
            rows[i, 5] = f"{new_values[i]:.2f}"
        else:  # differs only in the dropped columns
            rows[i, 6] = str(int(rows[i, 6]) + 1)
            rows[i, 7] = None if rows[i, 7] else "E"
    buf = io.StringIO()
    writer = csv.writer(buf, lineterminator="\n")
    writer.writerow(RAW_HEADER)
    writer.writerows(rows)
    return buf.getvalue()


def write_preload(out_dir: str, seed: int, n_categories: int) -> dict:
    """One cleaned warehouse row per (Country, Year, Scenario, Category)."""
    names = list(COUNTRIES.values())
    cats = categories(n_categories)
    shape = (len(names), len(YEARS), len(SCENARIOS), len(cats))
    idx = np.indices(shape).reshape(len(shape), -1)
    n = idx.shape[1]
    values = np.round(_rng(seed, 4).normal(2000, 3000, n), 2)
    table = pa.table({
        "Country": pa.array(np.array(names)[idx[0]]),
        "Year": pa.array(np.array(YEARS, dtype=np.int32)[idx[1]]),
        "Scenario": pa.array(np.array(SCENARIOS)[idx[2]]),
        "Category": pa.array(np.array(cats)[idx[3]]),
        "Gas": pa.array(np.full(n, TOTAL_GAS)),
        "ReportedValue": pa.array(values),
        "Unit": pa.array(np.full(n, UNIT)),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part-00000.parquet")
    pq.write_table(table, path)
    return {"name": "warehouse_preload", "rows": n, "bytes": os.path.getsize(path)}


def digest_dir(path: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
