"""Seeded input generators for the benchmark.

Two families, both written as parquet with numpy and pyarrow only (no
Spark), so generation never touches the engine under test:

* :func:`write_fixture` writes the ten registry tables
  (``catalog.TABLES``) at a scale factor, with the schemas and value
  domains the registry queries and their DuckDB oracles expect:
  TPC-H-shaped star tables, an ``events`` stream table, a
  ``documents`` corpus with 5 % near-duplicates, and unit-norm
  ``embeddings``.
* :class:`RawBatches` yields scrape-shaped raw batches in the ETL
  pipeline's ``RAW_SCRAPE_SCHEMA``: Brazilian-locale numbers, about 1 %
  malformed cells, Zipf-skewed index names and countries that appear
  only in later batches. Each batch carries the truth the checks need
  (which rows must be rejected and what they parse to).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _day_ts(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
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
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _day_ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _day_ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
        }
    )
    span_us = 30 * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": pa.array(
                _us(dt.datetime(2024, 1, 1)) + np.sort(rng.integers(0, span_us, n_evt)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_evt), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    # 5 % near-duplicates: a copy of another document plus one token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return t


def write_fixture(out_dir: str, sf: float, seed: int = FIXTURE_SEED) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every registry table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- ETL raw scrape batches ----------------------------------------------

BASE_COUNTRIES = ["Brasil", "China", "EUA"]
# one new country enters every second batch, from batch 2 on
NEW_COUNTRIES = ["Japão", "Alemanha", "Reino Unido", "França", "Índia", "Canadá"]
_FOREIGN_NAMES = [
    "S&P 500", "Nasdaq Composite", "Dow Jones", "Russell 2000",
    "Shanghai Composite", "Shenzhen Component", "CSI 300", "Hang Seng",
    "Nikkei 225", "DAX", "FTSE 100", "CAC 40", "Nifty 50", "S&P/TSX",
]
# batch b draws maxima from residue class b mod MAX_BATCHES, so values
# never tie across the run and the flagship top-10 has one right answer
MAX_BATCHES = 256
_MAXIMA_SLOTS = 200_000


def _br_number(cents: int) -> str:
    """``12859407`` → ``"128.594,07"`` (Brazilian grouping and comma)."""
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


@dataclass
class RawBatch:
    table: pa.Table
    rejects: list[tuple]  # expected transform_raw rejects, parsed values
    clean_countries: set[str]
    rows: int


class RawBatches:
    """Deterministic stream of raw scrape batches for one seed."""

    def __init__(self, seed: int, rows: int) -> None:
        if rows > _MAXIMA_SLOTS:
            raise ValueError(f"at most {_MAXIMA_SLOTS} rows per batch")
        self.seed = seed
        self.rows = rows
        from rpa_etl_investing_spark.etl.sector_maps import SECTOR_BY_BRAZIL_INDEX

        # mapped indices plus two the sector map does not know
        self.brazil = list(SECTOR_BY_BRAZIL_INDEX) + ["Índice Regional", "Ibovespa Setorial"]

    def countries(self, b: int) -> list[str]:
        return BASE_COUNTRIES + NEW_COUNTRIES[: max(0, b // 2)]

    def batch(self, b: int) -> RawBatch:
        if b >= MAX_BATCHES:
            raise ValueError(f"at most {MAX_BATCHES} batches per run")
        rng = np.random.default_rng([self.seed, b])
        n = self.rows
        countries = self.countries(b)
        pais = np.array(countries)[rng.integers(0, len(countries), n)]
        # Zipf-skewed names: rank r drawn with weight 1/r^1.2
        nome = np.empty(n, dtype=object)
        for c in countries:
            pool = self.brazil if c == "Brasil" else _FOREIGN_NAMES
            w = 1.0 / np.arange(1, len(pool) + 1) ** 1.2
            idx = np.flatnonzero(pais == c)
            nome[idx] = np.array(pool, dtype=object)[
                rng.choice(len(pool), idx.size, p=w / w.sum())
            ]
        maxima = rng.choice(_MAXIMA_SLOTS, n, replace=False) * MAX_BATCHES + b
        minima = (maxima * rng.uniform(0.9, 1.0, n)).astype(np.int64)
        atual = minima + (rng.random(n) * (maxima - minima)).astype(np.int64)
        var = rng.integers(-500, 501, n)
        whole_only = rng.random(n) < 0.05  # "1.234" style cells → 1234.0
        cols: dict[str, list] = {k: [] for k in ("nome", "valor_atual_raw", "maxima_raw", "minima_raw", "variacao_raw")}
        parsed: list[list] = []
        for i in range(n):
            a = int(atual[i]) // 100 * 100 if whole_only[i] else int(atual[i])
            va = _br_number(a)
            if whole_only[i]:
                va = va[:-3]
            v = int(var[i])
            vs = ("+" if v > 0 else "-" if v < 0 else "") + _br_number(abs(v)) + "%"
            cols["nome"].append(f" {nome[i]} " if i % 7 == 0 else nome[i])
            cols["valor_atual_raw"].append(va)
            cols["maxima_raw"].append(_br_number(int(maxima[i])))
            cols["minima_raw"].append(_br_number(int(minima[i])))
            cols["variacao_raw"].append(vs)
            parsed.append([nome[i], a / 100, int(maxima[i]) / 100, int(minima[i]) / 100, v / 100])
        # ~1 % malformed: one cell per bad row becomes unparseable
        bad = np.flatnonzero(rng.random(n) < 0.01)
        garbage = {"valor_atual_raw": "n/a", "maxima_raw": "--", "minima_raw": "", "variacao_raw": "abc%"}
        keys = ["nome", *garbage]
        rejects = []
        for i in bad:
            k = keys[int(rng.integers(0, len(keys)))]
            cols[k][i] = None if k == "nome" else garbage[k]
            parsed[i][keys.index(k)] = None
            rejects.append((*parsed[i], str(pais[i])))
        clean = np.ones(n, bool)
        clean[bad] = False
        table = pa.table({**cols, "pais": pais.tolist()})
        return RawBatch(table, rejects, set(pais[clean].tolist()), n)

    def write(self, b: int, path: str) -> RawBatch:
        rb = self.batch(b)
        pq.write_table(rb.table, path)
        return rb
