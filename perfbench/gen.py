"""Seeded input generators for the benchmark, with an on-disk cache.

Every generator is a pure function of ``(seed, size)``: the same pair gives
the same bytes.  Outputs are cached under ``<cache_root>/<kind>-<size>-s<seed>``
and a finished entry is marked by a ``_DONE`` file, so an interrupted run
never leaves a half-written entry that a later run would trust.

The star-schema tables mirror the column names, types and value domains of
the fixed test tables the package's queries were written against (see
``TESTDATA.md``: independent uniform columns, ``timestamp[us]`` dates, 64-d
unit-norm embeddings, documents drawn from a 30-word vocabulary).
Documents carry a stated near-duplicate share: a near-duplicate is an
earlier document's text with `` dup`` appended, so chains of
near-duplicates occur as they do in those tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts per table; ``sf0.01`` matches the fixed sf0.01 test tables.
TABLE_ROWS = {
    "sf0.01": {
        "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "event_users": 150,
        "documents": 500, "embeddings": 500,
    },
    "tiny": {
        "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
        "lineitem": 6_000, "events": 1_000, "event_users": 15,
        "documents": 100, "embeddings": 100,
    },
}

#: share of documents that are a near-duplicate of an earlier document
NEAR_DUP_SHARE = 0.05

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # near-duplicates copy an EARLIER text (possibly itself a copy), so the
    # pair graph holds chains as well as pairs
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": vecs.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def star_schema_tables(seed: int, size: str) -> dict[str, pa.Table]:
    """The ten star-schema tables for ``size`` (a key of TABLE_ROWS)."""
    rows = TABLE_ROWS[size]
    # one independent stream per table, so resizing one table never
    # changes another's contents
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    out: dict[str, pa.Table] = {}
    i32 = np.int32
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    n, r = rows["customer"], rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(i32)),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, SEGMENTS, n),
    })
    n, r = rows["supplier"], rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(i32)),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })
    n, r = rows["part"], rngs["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, PART_ADJ, n), _pick(r, PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": _pick(r, PART_TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype(i32)),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    n, r = rows["orders"], rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, rows["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n, r)),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })
    n, r = rows["lineitem"], rngs["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, rows["orders"], n).astype(np.int64),
        "l_partkey": r.integers(0, rows["part"], n).astype(np.int64),
        "l_suppkey": r.integers(0, rows["supplier"], n).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(i32)),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), n),
        "l_linestatus": _pick(r, ("F", "O"), n),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n, r)),
    })
    n, r = rows["events"], rngs["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + r.integers(0, 30 * _US_PER_DAY, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": r.integers(0, rows["event_users"], n).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })
    out["documents"] = pa.table(_documents(rngs["documents"], rows["documents"]))
    out["embeddings"] = _embeddings(rngs["embeddings"], rows["embeddings"])
    return out


def cached(cache_root: str, key: str, build) -> str:
    """Return the directory for ``key``, calling ``build(tmp_dir)`` once to
    fill it.  Building happens in a sibling temp directory that is renamed
    into place, so a concurrent or interrupted build is never visible."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def star_schema_dir(cache_root: str, seed: int, size: str) -> str:
    """Directory of ``<table>.parquet`` files for ``(seed, size)``."""

    def build(d: str) -> None:
        for name, table in star_schema_tables(seed, size).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))

    return cached(cache_root, f"tables-{size}-s{seed}", build)


def words_file(cache_root: str, seed: int, size_mb: int) -> str:
    """Random-word text of ``size_mb`` MB, written by the repo's parity
    generator (``bench_parity.generate_words_file``)."""
    from bench_parity import generate_words_file

    d = cached(
        cache_root, f"words-{size_mb}mb-s{seed}",
        lambda d: generate_words_file(os.path.join(d, "words.txt"), size_mb, seed=seed),
    )
    return os.path.join(d, "words.txt")
