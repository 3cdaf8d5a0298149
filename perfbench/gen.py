"""Seeded, deterministic input generators for the benchmark.

Everything here is plain NumPy + PyArrow: the inputs exist before any
Spark session does, and the same ``(seed, scale)`` always writes the same
rows.  Generated directories are cached under the caller's root, keyed by
workload, seed and ``GEN_VERSION``; a ``_COMPLETE`` marker (holding the
generation time) is written last, so an interrupted generation is redone.

Two input families:

* ``star``: the TPC-H-shaped star (region .. lineitem) plus ``events``,
  ``documents`` and ``embeddings`` -- the ten tables every registered
  query reads, with the schemas and value domains the queries filter on
  (``NATION_5``, ``ASIA``, ``BUILDING``, ``%gear%``, 1995-2001 dates).
* ``sheets``: wide ANATEL-IDA-shaped spreadsheets exported as CSV, one
  file per source sheet.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GEN_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "large", "red", "shiny", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window sketch"
).split()

_DAY_US = 86_400_000_000


def _ts(start: dt.date, offsets_us: np.ndarray) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The ten input tables at scale factor ``sf`` (lineitem ~ 6e6 * sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    pnames = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": pa.array(pnames[rng.integers(0, len(pnames), n_part)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(dt.date(1995, 1, 1), rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(dt.date(1995, 1, 2), rng.integers(0, 2499, n_li) * _DAY_US),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(dt.date(2024, 1, 1), np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), i64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vec = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents with planted duplicates: about one in ten
    copies an earlier long (80+ word) original with one word replaced, so
    every near-duplicate pair has 3-shingle Jaccard >= 0.86 (far above
    the queries' 0.5 threshold, where MinHash-LSH recall is 1 in
    practice), and one in fifty is an exact copy."""
    words = np.array(WORDS)
    texts: list[str] = []
    originals: list[int] = []  # long documents that were not copied
    for i in range(n):
        r = rng.random()
        if originals and r < 0.1:
            src = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        elif originals and r < 0.12:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            length = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), length)]))
            if length >= 80:
                originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


# The wide-sheet shape of the ANATEL IDA exports: merged group cells
# (blank continuation rows), label columns, one column per YYYY-MM month,
# comma decimals and '-' for missing measurements.
SHEET_GROUPS = [
    "ALGAR (CTBC TELECOM)", "CLARO S.A.", "GRUPO CLARO", "TELEFÔNICA BRASIL S.A.",
    "GRUPO TIM", "OI S.A.", "NET SERVIÇOS", "SKY BRASIL", "EMBRATEL",
    "NEXTEL TELECOMUNICAÇÕES", "SERCOMTEL S.A.",
]
SHEET_VARIABLES = [
    "Indicador de Desempenho no Atendimento (IDA)",
    "Índice de Reclamações",
    "Quantidade de acessos em serviço",
    "Quantidade de Reclamações",
    "Quantidade de Reclamações Respondidas",
    "Taxa de Respondidas em 5 dias Úteis",
    "Taxa de Respondidas no Período",
]
SHEET_SERVICES = ["SMP", "STFC", "SCM", "SEAC"]


def sheet_months(n_months: int) -> list[str]:
    return [f"{2015 + m // 12}-{m % 12 + 1:02d}" for m in range(n_months)]


def write_sheets(seed: int, out_dir: str, n_files: int, rows: int, n_months: int) -> None:
    """``n_files`` CSV sheets of ``rows`` rows each.  A group name starts a
    block of 1-6 rows and is blank on the block's continuation rows (the
    forward-fill case); about 4% of month cells are '-', and values use
    a decimal comma."""
    rng = np.random.default_rng(seed + 7919)
    months = sheet_months(n_months)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        svc = SHEET_SERVICES[f % len(SHEET_SERVICES)]
        fname = f"{svc}_{2015 + f // len(SHEET_SERVICES)}_{f:03d}.ods"
        starts = rng.random(rows) < 0.35
        starts[0] = True
        grp = np.array(SHEET_GROUPS)[rng.integers(0, len(SHEET_GROUPS), rows)]
        cols: dict[str, pa.Array] = {
            "ARQUIVO_ORIGEM": pa.array([fname] * rows),
            "linha_origem": pa.array(np.arange(rows, dtype=np.int64) + 2),
            "GRUPO_ECONOMICO": pa.array(np.where(starts, grp, None)),
            "VARIAVEL": pa.array(
                np.array(SHEET_VARIABLES)[rng.integers(0, len(SHEET_VARIABLES), rows)]
            ),
            "SERVICO": pa.array([svc] * rows),
        }
        for m in months:
            cents = rng.integers(0, 1_000_000, rows)
            cells = [f"{c // 100},{c % 100:02d}" for c in cents]
            for i in np.flatnonzero(rng.random(rows) < 0.04):
                cells[i] = "-"
            cols[m] = pa.array(cells)
        pacsv.write_csv(pa.table(cols), os.path.join(out_dir, f"sheet_{f:03d}.csv"))


def cached(root: str, key: str, build) -> tuple[str, float]:
    """Return ``(dir, generation seconds)`` for ``key`` under ``root``,
    calling ``build(dir)`` only when no completed copy exists."""
    path = os.path.join(root, f"v{GEN_VERSION}", key)
    marker = os.path.join(path, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as fh:
            return path, float(json.load(fh)["gen_s"])
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    build(path)
    gen_s = time.perf_counter() - t0
    with open(marker, "w") as fh:
        json.dump({"gen_s": gen_s, "version": GEN_VERSION}, fh)
    return path, gen_s


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (markers like ``_COMPLETE``
    and ``_SUCCESS`` and hidden ``.crc`` files excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f[0] not in "_."
        )
    return total
