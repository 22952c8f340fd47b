"""Seeded generator of the ten registry tables and of per-round sync changesets.

The benchmark never reads the repository's testdata: it builds its inputs
here, from numpy and pyarrow alone (no Spark), so the program under test
receives only generated files. Schemas, value domains and row-count ratios
follow FIXTURES.md and the measured sf0.001/sf0.01/sf0.1 testdata.
``lineitem``'s declared primary key ``(l_orderkey, l_linenumber)`` is unique,
as FIXTURES.md states: ``l_linenumber`` numbers the lines of each order from
1. The testdata itself draws the two columns independently, so its key is
not unique (about 76 % distinct keys); ``lineitem_with_testdata_keys``
builds that variant for the benchmark's declared-key probe.

Same seed, same bytes: every draw comes from ``numpy.random.default_rng``
seeded with a tuple that names the table (and round), and pyarrow writes
parquet deterministically.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Sync keys, identical to registry.PRIMARY_KEYS (checked by the self-tests).
KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# The non-key column a changeset update rewrites, per table.
PAYLOAD = {
    "region": "r_name",
    "nation": "n_name",
    "customer": "c_acctbal",
    "supplier": "s_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
    "lineitem": "l_quantity",
    "events": "value",
    "documents": "source",
    "embeddings": "label",
}

UPDATE_FRAC, INSERT_FRAC, DELETE_FRAC = 0.01, 0.005, 0.005

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["cold", "small", "large", "blue", "red", "hot", "old", "new"]
_NOUN = ["widget", "bolt", "anvil", "plate", "ring", "rod", "gear", "pipe"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "the a data row key order sort table scan merge part window small hash "
    "join batch stream spark dup group query slow fast filter customer line "
    "value agg big column vector"
).split()
_DIM = 64


def _rng(*tag: int | str) -> np.random.Generator:
    """A generator seeded by a tuple of ints; strings hash stably by bytes."""
    ints = [t if isinstance(t, int) else int.from_bytes(t.encode(), "little") % 2**63
            for t in tag]
    return np.random.default_rng(ints)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return pa.array((lo + rng.integers(0, span, n)).astype("datetime64[us]"))


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (testdata ratios)."""
    k = sf / 0.001
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150 * k),
        "supplier": int(10 * k),
        "part": int(200 * k),
        "orders": int(1500 * k),
        "lineitem": int(6000 * k),
        "events": int(1000 * k),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }


def _line_numbers(orderkey: np.ndarray) -> np.ndarray:
    """1, 2, ... over the rows of each order, in row order."""
    order = np.argsort(orderkey, kind="stable")
    ks = orderkey[order]
    first = np.r_[0, np.flatnonzero(ks[1:] != ks[:-1]) + 1]
    rank = np.arange(len(ks)) - np.repeat(first, np.diff(np.r_[first, len(ks)]))
    out = np.empty(len(ks), np.int64)
    out[order] = rank + 1
    return out


def _table(name: str, n: int, rng: np.random.Generator, n_of: dict[str, int],
           key0: int = 0) -> pa.Table:
    """``n`` rows of ``name`` whose single-column keys start at ``key0``."""
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(keys, pa.int32()),
                         "r_name": [_REGIONS[i % 5] for i in keys]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(keys, pa.int32()),
                         "n_name": [f"NATION_{i}" for i in keys],
                         "n_regionkey": pa.array(keys % 5, pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": keys,
            "c_name": [f"Customer#{i:09d}" for i in keys],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": keys,
            "s_name": [f"Supplier#{i:09d}" for i in keys],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
        return pa.table({
            "p_partkey": keys,
            "p_name": np.array(names)[rng.integers(0, len(names), n)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(_PTYPES)[rng.integers(0, len(_PTYPES), n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_of["customer"], n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
        })
    if name == "lineitem":
        # about four lines per order; rows added by a changeset belong to
        # new orders past ``key0``
        orderkey = key0 + rng.integers(0, n_of["orders"] if key0 == 0 else max(1, n // 4), n)
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_of["part"], n),
            "l_suppkey": rng.integers(0, n_of["supplier"], n),
            "l_linenumber": pa.array(_line_numbers(orderkey), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        })
    if name == "events":
        start = np.datetime64("2024-01-01T00:00:00", "us")
        span_us = 30 * 86400 * 10**6
        ts = np.sort(rng.integers(0, span_us, n)) if key0 == 0 else rng.integers(0, span_us, n)
        return pa.table({
            "event_id": keys,
            "ts": pa.array(start + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(15, n_of["customer"] // 10), n),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        words = np.array(_WORDS)
        texts = [" ".join(words[rng.integers(0, len(words), m)])
                 for m in rng.integers(8, 100, n)]
        # ~10 % near-duplicates of an earlier document (one word changed),
        # so the dedup operators have clusters to find
        for i in np.flatnonzero(rng.random(n) < 0.1):
            if i > 0:
                toks = texts[int(rng.integers(0, i))].split()
                toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
                texts[i] = " ".join(toks)
        return pa.table({
            "doc_id": keys,
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in keys],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        labels = rng.integers(0, 10, n)
        centers = _rng("centers").normal(0.0, 1.0, (10, _DIM))
        vecs = centers[labels] + rng.normal(0.0, 1.5, (n, _DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": keys,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    raise KeyError(name)


def base_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """The ten tables at ``sf``; fixed for a given (sf, seed)."""
    n_of = sizes(sf)
    return {t: _table(t, n_of[t], _rng(seed, t), n_of) for t in TABLES}


def lineitem_with_testdata_keys(sf: float, seed: int = 42) -> pa.Table:
    """``lineitem`` with its key columns drawn independently, as the
    testdata draws them: ``(l_orderkey, l_linenumber)`` then repeats (about
    76 % distinct keys at every scale factor)."""
    n_of = sizes(sf)
    li = _table("lineitem", n_of["lineitem"], _rng(seed, "lineitem"), n_of)
    rng = _rng(seed, "lineitem", "testdata-keys")
    n = li.num_rows
    li = li.set_column(0, "l_orderkey", pa.array(rng.integers(0, n_of["orders"], n)))
    return li.set_column(3, "l_linenumber", pa.array(rng.integers(1, 8, n), pa.int32()))


def _mutate(col: pa.Array, round_no: int) -> pa.Array:
    if pa.types.is_string(col.type):
        return pa.array([f"{v}~{round_no}" for v in col.to_pylist()])
    if pa.types.is_integer(col.type):
        return pa.array((col.to_numpy() + 1) % 10, col.type)
    return pa.array(col.to_numpy() + 1.0)


def round_source(base: pa.Table, name: str, sf: float, seed: int,
                 round_no: int) -> tuple[pa.Table, dict]:
    """Apply round ``round_no``'s seeded changeset to one base table.

    About 1 % of rows get their payload column rewritten, 0.5 % are deleted
    and 0.5 % new rows are drawn from the table's own distribution, so the
    table size stays steady. Returns the new table and the counts it
    applied.
    """
    n = base.num_rows
    rng = _rng(seed, name, round_no)
    n_upd = max(1, round(n * UPDATE_FRAC))
    n_del = round(n * DELETE_FRAC)
    n_ins = round(n * INSERT_FRAC)
    picked = rng.choice(n, n_upd + n_del, replace=False)
    upd, dele = np.sort(picked[:n_upd]), np.sort(picked[n_upd:])
    payload = PAYLOAD[name]
    cols = {c: base.column(c).combine_chunks() for c in base.column_names}
    merged = cols[payload].to_numpy(zero_copy_only=False).copy()
    merged[upd] = _mutate(cols[payload].take(pa.array(upd)), round_no).to_numpy(
        zero_copy_only=False)
    cols[payload] = pa.array(merged, cols[payload].type)
    keep = np.ones(n, bool)
    keep[dele] = False
    out = pa.table(cols).filter(pa.array(keep))
    if n_ins:
        key0 = int(pc.max(base.column(KEYS[name][0])).as_py()) + 1
        ins = _table(name, n_ins, rng, sizes(sf), key0=key0)
        out = pa.concat_tables([out, ins.cast(out.schema)])
    return out, {"U": n_upd, "I": n_ins, "D": n_del}


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def query_order(qids: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one catalog pass."""
    order = _rng(seed, "catalog", pass_no).permutation(len(qids))
    return [qids[i] for i in order]
