"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten fixture tables the engine reads (schemas
as in FIXTURES.md) as one parquet file each, from a seed and a scale
factor.  The value domains follow the shipped fixtures: TPC-H-ish star
schema, a 30-day ``events`` stream, a word-salad ``documents`` corpus
with ~5% near-duplicates, and unit-norm 64-d ``embeddings`` with ten
separable classes, so a trainer that learns nothing scores near chance
and fails the accuracy checks.  The same (seed, sf) always gives the same
bytes.

``ensure`` caches a fixture directory behind a manifest of row counts
and file checksums, so a stale or half-written fixture is rebuilt
instead of read.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

MANIFEST = "MANIFEST.json"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in us
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in us
EMBED_DIM = 64
CENTER_NORM = 1.0  # class centers stand well clear of the 0.125/dim noise


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else round(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else round(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = np.array(_ADJ), np.array(_NOUN)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": np.array(_PRIOS)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    ev_us = _EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype("int64")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    vocab = np.array(_VOCAB)
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    centers *= CENTER_NORM / np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[labels] + rng.normal(0.0, 0.125, (n_emb, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(x.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables for (seed, sf) as ``<out_dir>/<table>.parquet``."""
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def _files(path: Path) -> list[Path]:
    """Data files of one table: a parquet file, or a parquet directory's parts."""
    if path.is_file():
        return [path]
    return sorted(p for p in path.rglob("*.parquet") if p.is_file())


def manifest(fixture_dir: str) -> dict[str, dict]:
    """Row count and sha256 over the data files of every table."""
    out = {}
    for t in TABLES:
        path = Path(fixture_dir, f"{t}.parquet")
        files = _files(path)
        if not files:
            raise FileNotFoundError(f"{path} has no parquet data")
        h = hashlib.sha256()
        for f in files:
            h.update(f.read_bytes())
        rows = ds.dataset([str(f) for f in files], format="parquet").count_rows()
        out[t] = {"rows": rows, "sha256": h.hexdigest()}
    return out


def ensure(fixture_dir: str, build: Callable[[str], None]) -> bool:
    """Make ``fixture_dir`` hold a complete fixture; return True if it was built.

    A directory whose manifest is missing or disagrees with its files is
    deleted and rebuilt with ``build(fixture_dir)``.
    """
    root = Path(fixture_dir)
    recorded = root / MANIFEST
    if recorded.exists():
        try:
            if json.loads(recorded.read_text()) == manifest(fixture_dir):
                return False
        except (OSError, ValueError):
            pass
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    build(fixture_dir)
    recorded.write_text(json.dumps(manifest(fixture_dir), indent=1, sort_keys=True))
    return True
