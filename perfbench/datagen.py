"""Seeded input generators for the benchmark workloads.

Everything is built from the seed and from files committed in the
repository (``tests/fixtures``); nothing is downloaded. The same seed
gives byte-identical inputs.

- :func:`star_frames` (the star schema plus ``events``) and
  :func:`corpus_frames` (``documents``, ``embeddings``) build tables with
  the schemas and value distributions the dashboard and curation queries
  expect (TESTDATA.md describes the originals); :func:`write_tables`
  writes them as one parquet file each.
- :func:`messy_vehicle_frame` builds a messy-Excel-shaped pandas frame
  (FIXTURES.md F1 layout) from ``vehicle_raw.parquet``: a 2-3-row
  hierarchical header block over K whole copies of the body, perturbed
  importer names, and a share of never-seen header strings.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures"
)

# --- star schema + events + corpus --------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(rng, n, lo_days, hi_days):
    d = EPOCH_1995 + rng.integers(lo_days, hi_days + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_frames(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """The star schema plus ``events`` at scale factor ``sf`` (lineitem
    ~ 6M x sf rows)."""
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    words = rng.choice(PART_WORDS, (n_part, 2))
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in words],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, max(n_cust, 1), n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, max(n_ord, 1), n_li).astype("int64"),
        "l_partkey": rng.integers(0, max(n_part, 1), n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })
    gaps = rng.exponential(26.0, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_events).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return out


def corpus_frames(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """``documents`` (50k x sf, at least 500) and unit-norm 64-d
    ``embeddings`` (20k x sf, at least 500)."""
    rng = np.random.default_rng([seed, 1])
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    vecs = rng.normal(size=(n_emb, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "documents": _documents(rng, n_docs),
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype("int32"),
        }),
    }


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words corpus with 5% near-duplicates (an earlier document
    plus one extra token) and a few exact copies, as in the originals."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(DOC_WORDS, k)) for k in lengths]
    for i in rng.choice(np.arange(1, n), max(n // 20, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(n // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def write_tables(sf_dir: str, frames: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Write each frame to ``<sf_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, pdf in frames.items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = len(pdf)
    return counts


# --- messy vehicle workbook ---------------------------------------------

#: size of the perturbed-importer pool, shared out over the fixture's 75
#: importer names in proportion to their row counts; it bounds the distinct
#: names the fuzzy join scores at ~1.5k
IMPORTER_VARIANTS = 1500
PERTURB_RATE = 0.35
NOVEL_HEADER_SHARE = 0.1
NOVEL_WORDS = ["observacion", "nota", "campo", "libre", "registro", "interno",
               "revision", "codigo", "auxiliar", "lote", "planilla", "control",
               "origen", "version", "fecha", "carga", "usuario", "detalle"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"


@dataclass
class VehicleInput:
    frame: pd.DataFrame  # all-object messy frame, columns "Unnamed: N"
    catalog: dict  # pre-seeded HeaderCanonicalizer catalog (F4 shape)
    body_rows: int  # data rows = copies x fixture rows
    copies: int
    header_levels: int
    novel_headers: int
    distinct_importers: int


def _perturb(name: str, rng) -> str:
    """One seeded character edit that survives lower-casing/unaccenting."""
    i = int(rng.integers(0, len(name) + 1))
    op = int(rng.integers(0, 3))
    ch = LETTERS[int(rng.integers(0, len(LETTERS)))]
    if op == 0 or len(name) < 2:
        return name[:i] + ch + name[i:]
    i = min(i, len(name) - 1)
    if op == 1:
        return name[:i] + name[i + 1 :]
    return name[:i] + ch + name[i + 1 :]


def _header_block(columns: list[str], n_novel: int, levels: int, rng) -> tuple[list, list]:
    """Hierarchical header rows for ``columns`` plus ``n_novel`` unseen
    headers. Consecutive columns share a merged parent (only its first
    cell is set) and each column has its own label cell. With 3 levels,
    some non-leading columns of a group carry their label on the third
    row under a merged second-row cell. Returns (rows, novel labels)."""
    novel = []
    seen = set()
    while len(novel) < n_novel:
        words = " ".join(rng.choice(NOVEL_WORDS, 3, replace=False))
        text = f"{words} {int(rng.integers(1, 1000))}"
        if text not in seen:
            seen.add(text)
            novel.append(text)
    labels = [c.replace("_", " ").lower() for c in columns] + novel
    width = len(labels)
    rows = [[None] * width for _ in range(levels)]
    starts = set()
    i = 0
    while i < width:
        rows[0][i] = f"Grupo {len(starts) + 1} ficha tecnica"
        starts.add(i)
        i += int(rng.integers(1, 5))
    for j, label in enumerate(labels):
        if levels == 3 and j not in starts and rng.random() < 0.3:
            rows[2][j] = label
        else:
            rows[1][j] = label
    return rows, novel


def messy_vehicle_frame(copies: int, seed: int) -> VehicleInput:
    """FIXTURES.md F1: header block, stray sub-header cell, blank spacer,
    then ``copies`` whole copies of the fixture body."""
    from etl_dashboard_project_1_spark.functions.headers import HeaderCanonicalizer
    from etl_dashboard_project_1_spark.sources.excel import infer_header_structure

    rng = np.random.default_rng(seed)
    raw = pd.read_parquet(os.path.join(FIXTURES, "vehicle_raw.parquet"))
    raw = raw.drop(columns=["_row_id"])
    columns = list(raw.columns)
    levels = int(rng.integers(2, 4))
    n_novel = max(1, round(NOVEL_HEADER_SHARE * len(columns)))
    header_rows, novel = _header_block(columns, n_novel, levels, rng)
    width = len(columns) + n_novel + 1  # + the stray-cell column
    names = [f"Unnamed: {i}" for i in range(width)]

    body = raw.to_numpy(dtype=object)
    body = np.where(pd.isna(body), None, body)
    body = np.tile(body, (copies, 1))
    imp = columns.index("IMPORTADOR")
    freq = raw["IMPORTADOR"].value_counts(sort=False).sort_index()
    variants = {
        b: [_perturb(b, rng) for _ in range(max(1, round(IMPORTER_VARIANTS * n / freq.sum())))]
        for b, n in freq.items()
    }
    hit = np.flatnonzero(rng.random(len(body)) < PERTURB_RATE)
    picks = rng.random(len(hit))
    for r, u in zip(hit, picks):
        pool = variants.get(body[r, imp])
        if pool is not None:
            body[r, imp] = pool[int(u * len(pool))]
    distinct = len({v for v in body[:, imp] if v is not None})
    novel_cells = rng.choice(NOVEL_WORDS, (len(body), n_novel)).astype(object)

    header = [row + [None] for row in header_rows]
    stray = [None] * width
    stray[-1] = "(ref.)"  # its row is the reference's ``maxrow``
    spacer = [None] * width
    data = np.concatenate([body, novel_cells, np.full((len(body), 1), None)], axis=1)
    frame = pd.DataFrame(
        np.concatenate([np.array(header + [stray, spacer], dtype=object), data]),
        columns=names,
    )

    inference = infer_header_structure(frame.iloc[: levels + 2])
    flat_names = list(inference.flat_names.values())
    if len(set(flat_names)) != len(flat_names):
        raise ValueError(f"seed {seed}: header block flattens two columns to one name")
    catalog = {}
    for pos, col in enumerate(columns):
        flat = inference.flat_names[names[pos]]
        catalog[col] = {
            "original_names": [flat],
            "hashes": [HeaderCanonicalizer.header_hash(flat)],
        }
    return VehicleInput(
        frame=frame,
        catalog=catalog,
        body_rows=len(body),
        copies=copies,
        header_levels=levels,
        novel_headers=n_novel,
        distinct_importers=distinct,
    )


def write_catalog(catalog: dict, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(catalog, f, ensure_ascii=False)


GOLDEN_KEYS = ["AÑO", "CATEGORIA_PROPULSION", "TIPO_LDV"]


def golden_key_summary() -> dict[tuple[str, str, str], tuple[int, int]]:
    """(AÑO, CATEGORIA_PROPULSION, TIPO_LDV) -> (rows, distinct MARCA) in the
    reference's own pipeline output. A K-copy run must produce K times the
    rows and the same brands (importer perturbation touches neither)."""
    g = pd.read_parquet(os.path.join(FIXTURES, "vehicle_golden.parquet"))
    g[GOLDEN_KEYS] = g[GOLDEN_KEYS].fillna("").astype(str)
    agg = g.groupby(GOLDEN_KEYS).agg(n=("MARCA", "size"), marcas=("MARCA", "nunique"))
    return {k: (int(r.n), int(r.marcas)) for k, r in agg.iterrows()}
