"""Deterministic benchmark inputs.

Two input families:

* ``write_tables`` lands the ten harness tables the registry queries
  read (a TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), one parquet file per table, with the column names,
  types and value ranges of the harness scale factors.  The CONTENT is
  fixed by ``CONTENT_SEED`` so the committed oracle digests stay valid;
  the run seed permutes the row order inside every file, which changes
  the physical input without changing any query result.
* ``write_landing`` lands synthetic raw survey submissions (the wide,
  all-string Kobo shape ``plans.preprocess`` consumes) as several
  parquet files.  Here the run seed drives the content itself: the
  survey checks recompute their expected results from the landing.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
_NOUN = ("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (harness ratios)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": 500,
        "embeddings": 500,
    }


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed % 2**64)  # any int, negative too


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> list:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup rows'
            # candidate pairs
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The ten harness tables at ``sf``, content fixed by CONTENT_SEED."""
    rng = _rng(CONTENT_SEED)
    n = table_rows(sf)
    i64 = lambda k: np.arange(k, dtype=np.int64)  # noqa: E731
    cols: dict[str, dict] = {}
    cols["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    }
    cols["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    nc = n["customer"]
    cols["customer"] = {
        "c_custkey": pa.array(i64(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, nc)),
    }
    ns = n["supplier"]
    cols["supplier"] = {
        "s_suppkey": pa.array(i64(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }
    npart = n["part"]
    cols["part"] = {
        "p_partkey": pa.array(i64(npart)),
        "p_name": pa.array(
            [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(_pick(rng, _PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)),
    }
    no = n["orders"]
    cols["orders"] = {
        "o_orderkey": pa.array(i64(no)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, _STATUS, no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(
            _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no), pa.timestamp("us")
        ),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITY, no)),
    }
    nl = n["lineitem"]
    cols["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), nl)),
        "l_linestatus": pa.array(_pick(rng, ("F", "O"), nl)),
        "l_shipdate": pa.array(
            _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl), pa.timestamp("us")
        ),
    }
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    cols["events"] = {
        "event_id": pa.array(i64(ne)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, ne)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    cols["documents"] = _documents(rng, n["documents"])
    cols["embeddings"] = _embeddings(rng, n["embeddings"])
    return {name: pa.table(c) for name, c in cols.items()}


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Land every table as ``<out_dir>/<name>.parquet`` with its rows
    in a seed-driven order.  Returns the bytes landed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed)
    total = 0
    for name, table in build_tables(sf).items():
        order = rng.permutation(table.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table.take(pa.array(order)), path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------- survey

# length-weight coefficients (catch_taxon, a, b) for the species above
LW_COEFFS = (
    ("SNA", 0.02, 2.9), ("GRP", 0.015, 3.0), ("OCZ", 0.5, 2.2),
    ("TUN", 0.01, 3.1), ("MAC", 0.008, 3.05), ("RAY", 0.012, 2.95),
)


def survey_columns(rng, n: int, first_id: int = 0) -> dict[str, list]:
    """``n`` raw wide submissions (every value a string or null)."""

    def pick(*choices):
        return _pick(rng, choices, n)

    def num(lo: int, hi: int):
        return [str(v) for v in rng.integers(lo, hi, n)]

    none = [None] * n
    day = np.datetime64("2024-01-01") + rng.integers(0, 364, n).astype("timedelta64[D]")
    day_s = [str(d) for d in day]
    return {
        "submission_id": [f"sub_{first_id + i}" for i in range(n)],
        "group_general/landing_date": [f"{d} 06:00:00" for d in day_s],
        "group_general/today": [f"{d} 18:00:00" for d in day_s],
        "group_general/enumerator": pick(
            "Joao da Silva", "Maria Santos", "Ana Pereira", "Carlos Gomes"
        ),
        "group_general/district": none,
        "group_general/district_palma": pick("palma", "mocimboa_da_praia", "quissanga"),
        "group_general/district_mocimboa": none,
        "group_general/survey_activity": ["1"] * n,
        "group_general/catch_outcome": pick("1", "1", "1", "0"),
        "group_general/location_coordinates": [
            f"{v}.5 40.2 10 4" for v in rng.integers(-12, -10, n)
        ],
        "group_trip/trip_duration": num(1, 14),
        "group_trip/no_men_fishers": num(0, 5),
        "group_trip/no_women_fishers": num(0, 3),
        "group_trip/no_child_fishers": none,
        "group_trip/gear_type": pick("handline", "gillnet", "longline", "trap", "seine"),
        "group_trip/habitat": num(1, 8),
        "group_trip/hook_size": none,
        "group_trip/hook_size_other": none,
        "group_trip/boat_reg_no": none,
        "group_trip/pds_imei": none,
        "group_species/1/selected_species": pick("SNA", "GRP", "OCZ", "TUN", "MAC"),
        "group_species/1/collection_type": ["1"] * n,
        "group_species/1/n_buckets": none,
        "group_species/1/weight_bucket": none,
        "group_species/1/catch_estimate": none,
        "group_species/1/no_individuals_5_10": num(0, 20),
        "group_species/1/no_individuals_10_15": num(0, 10),
        "group_species/2/selected_species": pick("SNA", "GRP", "RAY"),
        "group_species/2/collection_type": ["1"] * n,
        "group_species/2/n_buckets": none,
        "group_species/2/weight_bucket": none,
        "group_species/2/catch_estimate": none,
        "group_species/2/no_individuals_5_10": num(0, 12),
        "group_species/2/no_individuals_10_15": none,
        "group_market/catch_price": num(100, 3000),
        "group_market/total_catch_value": none,
        "group_market/catch_use": pick("sale", "consumption"),
    }


def write_landing(out_dir: str, n: int, n_files: int, seed: int) -> int:
    """Land ``n`` submissions as ``n_files`` parquet files, named so the
    file source picks them up in order.  Returns the bytes landed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed)
    per_file = -(-n // n_files)
    first_mtime = time.time_ns() - n_files * 1_000_000_000
    total = 0
    for f in range(n_files):
        lo = f * per_file
        k = min(per_file, n - lo)
        cols = survey_columns(rng, k, first_id=lo)
        table = pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(table, path)
        # distinct, increasing mtimes: the file source orders by them
        mtime = first_mtime + f * 1_000_000_000
        os.utime(path, ns=(mtime, mtime))
        total += os.path.getsize(path)
    return total
