"""Seeded input generators.  Everything a workload feeds the engine comes
from here, and only from ``--seed``: the same seed gives byte-identical
tables and the same op schedule, a different seed gives different ones.

Spark-free on purpose (numpy + pyarrow only) so the generators are unit
tested without a JVM.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Corpus: the ten tables of the sf0.1 star schema (schemas as in
# FIXTURES.md), written one parquet file and one row group per table.

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "large", "red", "blue", "hot", "cold", "green", "shiny"]
P_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.15, 0.15, 0.15]
VOCAB = (
    "the fast slow key order sort table scan merge spark line column part "
    "small value filter customer stream hash query agg window join group "
    "batch vector a index"
).split()


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(_dt.datetime(y, m, d, tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n, lo, hi) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi) days, as timestamp[ms]
    (the order and ship dates of FIXTURES.md)."""
    day = 86_400 * 1_000_000
    d = rng.integers(0, (hi - lo) // day, n)
    return pa.array((lo + d * day) // 1000, pa.timestamp("ms"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def corpus_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The corpus as arrow tables; ``scale`` multiplies the sf0.1 row
    counts (tests use a tiny scale)."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(10, int(c * scale)) for t, c in SF01_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), npart)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 900.0, 500_000.0),
        "o_orderdate": _days(rng, no, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)),
    })
    ne = n["events"]
    lo = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(lo, _epoch_us(2024, 1, 30), ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        # timestamp[ns], as FIXTURES.md has it: the session reads it as
        # epoch-nanosecond longs, which io.normalize_events repairs
        "ts": pa.array(ts * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _money(rng, ne, 0.03, 327.53),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(8, 90, nd)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    emb = rng.normal(0.0, 0.15, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(
            tb, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 21
        )


# --------------------------------------------------------------------------
# Key-value entities and op schedules.


def uid_of(k: int) -> str:
    """Stable, high-cardinality string id for entity ``k`` (the bloom
    column: clustered on ``k``, its min/max stats cannot prune it)."""
    return f"u{(k * 2654435761) % 4294967311:010x}"


def entity_values(rng, keys: np.ndarray, version: int) -> dict[str, list]:
    """Field values for ``keys`` written at ``version`` (0 = initial load)."""
    n = len(keys)
    return {
        "k": [int(x) for x in keys],
        "uid": [uid_of(int(x)) for x in keys],
        "a": [int(x) for x in rng.integers(0, 1_000_000, n)],
        "b": [float(x) for x in np.round(rng.uniform(0.0, 1000.0, n), 3)],
        "c": [f"v{version}-{int(x)}" for x in rng.integers(0, 10_000, n)],
    }


def entities_table(seed: int, n: int) -> pa.Table:
    """The initial ``n`` entities, keys ``0..n-1``."""
    rng = np.random.default_rng([seed, 2])
    keys = np.arange(n, dtype=np.int64)
    v = entity_values(rng, keys, 0)
    return pa.table({
        "k": pa.array(v["k"], pa.int64()),
        "uid": v["uid"],
        "a": pa.array(v["a"], pa.int64()),
        "b": pa.array(v["b"], pa.float64()),
        "c": v["c"],
    })


class ZipfKeys:
    """Keys drawn Zipf(``a``) over ranks ``1..n``, mapped to key ids by a
    seeded permutation (so hot keys are scattered over the key space)."""

    def __init__(self, rng, n: int, a: float = 1.1):
        w = np.arange(1, n + 1, dtype=np.float64) ** -a
        self.cdf = np.cumsum(w) / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self, m: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, self.rng.random(m), side="right")
        return self.perm[np.minimum(r, len(self.perm) - 1)]

    def distinct(self, m: int) -> list[int]:
        """``m`` distinct keys in draw order (re-drawing duplicates)."""
        out: dict[int, None] = {}
        while len(out) < m:
            for k in self.draw(m):
                if len(out) < m:
                    out.setdefault(int(k), None)
        return list(out)


def cycle_schedule(rng, mix: dict[str, int]) -> list[str]:
    """One cycle of op kinds: each kind exactly ``mix[kind]`` times, in a
    seeded order.  Fixed proportions per cycle keep a run's op mix, and so
    its latency percentiles, independent of how many cycles fit."""
    kinds = [k for k, c in mix.items() for _ in range(c)]
    return [kinds[i] for i in rng.permutation(len(kinds))]


def interleave(writes: list[str], reads: list[str]) -> list[str]:
    """``writes`` in order, each followed by an equal share (to one op) of
    ``reads``, in order."""
    out: list[str] = []
    n = len(writes)
    for i, w in enumerate(writes):
        out.append(w)
        out += reads[i * len(reads) // n:(i + 1) * len(reads) // n]
    return out
