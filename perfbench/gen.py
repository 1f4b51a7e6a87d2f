"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator`` and
writes plain Parquet with pyarrow: the program under test receives only
these files, never the seed. The same seed gives byte-identical files.

Two kinds of input:

- a lineitem-shaped *merge table* with a synthesized unique key
  ``l_key`` and gaps left between keys for inserts, plus a simulated
  sequence of mutation batches against it (``LineitemState``);
- TPC-H-like *fixture tables* (``write_fixtures``) with the schemas the
  catalog queries read, for ``catalog_mix``.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# key slots per base row: base keys are multiples of GAP, the slots in
# between are free for inserts
GAP = 4
OP_UPSERT = "UPSERT"
OP_DELETE = "DELETE"
_UTC = datetime.timezone.utc
_EPOCH_1995 = int(datetime.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000
_RETURNFLAGS = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])

LINEITEM_SCHEMA = pa.schema([
    ("l_key", pa.int64()),
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us", tz="UTC")),
])
LINEITEM_COLUMNS = LINEITEM_SCHEMA.names
N_PARTS = 20_000
N_SUPPS = 1_000


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one Parquet file and return its size in bytes."""
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


class LineitemState:
    """The merge table's logical contents, simulated on the driver.

    ``n_slots`` key slots; ``live`` marks the keys present. Payload
    columns are drawn fresh for every upsert. ``l_shipdate`` grows with
    the key (a time-ordered CDC table), so zone maps on it prune.
    """

    def __init__(self, rng: np.random.Generator, n_rows: int, rows_per_file: int):
        self.rng = rng
        self.rows_per_file = rows_per_file
        self.n_slots = n_rows * GAP
        self.live = np.zeros(self.n_slots, dtype=bool)
        self.live[::GAP] = True
        self.partkey = np.full(self.n_slots, -1, dtype=np.int64)
        self.partkey[::GAP] = rng.integers(0, N_PARTS, n_rows)

    @property
    def region_slots(self) -> int:
        """Key slots covered by one base file."""
        return self.rows_per_file * GAP

    def rows(self, keys: np.ndarray) -> dict:
        """Fresh payload columns for ``keys`` (sorted int64)."""
        rng, n = self.rng, len(keys)
        days = (keys * 2500) // self.n_slots + rng.integers(-2, 3, n)
        return {
            "l_key": keys,
            "l_orderkey": keys // (GAP * 4),
            "l_partkey": rng.integers(0, N_PARTS, n),
            "l_suppkey": rng.integers(0, N_SUPPS, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _RETURNFLAGS[rng.integers(0, 3, n)],
            "l_linestatus": _LINESTATUS[rng.integers(0, 2, n)],
            "l_shipdate": _EPOCH_1995 + days * _DAY_US,
        }

    def _table(self, cols: dict, op: np.ndarray | None = None) -> pa.Table:
        arrays = [pa.array(cols[f.name], type=f.type) for f in LINEITEM_SCHEMA]
        schema = LINEITEM_SCHEMA
        if op is not None:
            arrays.append(pa.array(op, type=pa.string()))
            schema = schema.append(pa.field("op", pa.string()))
        return pa.Table.from_arrays(arrays, schema=schema)

    def base_table(self) -> pa.Table:
        keys = np.nonzero(self.live)[0].astype(np.int64)
        cols = self.rows(keys)
        cols["l_partkey"] = self.partkey[keys]
        return self._table(cols)

    def batch(self, lo: int, hi: int, n_upd: int, n_ins: int, n_del: int) -> pa.Table:
        """A mutation batch of unique keys inside slots [lo, hi):
        ``n_upd`` updates and ``n_del`` deletes of live keys and
        ``n_ins`` inserts into free slots. Applies it to the state."""
        rng = self.rng
        live = np.nonzero(self.live[lo:hi])[0] + lo
        free = np.nonzero(~self.live[lo:hi])[0] + lo
        n_upd = min(n_upd, len(live))
        n_del = min(n_del, len(live) - n_upd)
        n_ins = min(n_ins, len(free))
        picked = rng.choice(live, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = rng.choice(free, n_ins, replace=False)
        keys = np.concatenate([upd, ins, dele]).astype(np.int64)
        op = np.array([OP_UPSERT] * (n_upd + n_ins) + [OP_DELETE] * n_del)
        order = np.argsort(keys, kind="stable")
        keys, op = keys[order], op[order]
        cols = self.rows(keys)
        ups = op == OP_UPSERT
        self.live[keys[ups]] = True
        self.partkey[keys[ups]] = cols["l_partkey"][ups]
        self.live[keys[~ups]] = False
        self.partkey[keys[~ups]] = -1
        return self._table(cols, op)

    def delete_keys(self, lo: int, hi: int, n: int) -> pa.Table:
        """``n`` live keys in [lo, hi) to tombstone; applies them."""
        live = np.nonzero(self.live[lo:hi])[0] + lo
        keys = np.sort(self.rng.choice(live, min(n, len(live)), replace=False))
        self.live[keys] = False
        self.partkey[keys] = -1
        return pa.table({"l_key": pa.array(keys.astype(np.int64), pa.int64())})

    def live_partkeys(self, n: int) -> list[int]:
        """``n`` part keys drawn from live rows (point-read probes)."""
        live = np.nonzero(self.live)[0]
        return sorted(int(v) for v in self.partkey[self.rng.choice(live, n)])


# ---------------------------------------------------------------- fixtures

_VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_LANGS = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
_EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
_PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
_PADJ = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
_PNOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
_STATUS = np.array(["O", "P", "F"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _ts_days(rng, n: int, start: datetime.datetime, days: int) -> pa.Array:
    base = int(start.replace(tzinfo=_UTC).timestamp()) * 1_000_000
    return pa.array(base + rng.integers(0, days, n) * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    # near-duplicates: a few docs repeat an earlier one plus a marker
    n_dup = n // 20
    src = rng.integers(0, n // 2, n_dup)
    dst = rng.choice(np.arange(n // 2, n), n_dup, replace=False)
    for s, d in zip(src, dst):
        texts[d] = texts[s] + " dup" * int(rng.integers(0, 3))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    v = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_fixtures(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """TPC-H-like star schema + events, documents and embeddings at
    scale factor ``sf``: one ``<name>.parquet`` per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(100, int(50_000 * sf)), max(200, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(_PADJ[rng.integers(0, 8, n_part)], " "),
                              _PNOUN[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _STATUS[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts_days(rng, n_ord, datetime.datetime(1995, 1, 1), 2404),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _RETURNFLAGS[rng.integers(0, 3, n_li)],
        "l_linestatus": _LINESTATUS[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(rng, n_li, datetime.datetime(1995, 1, 2), 2498),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(
            int(datetime.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000 + ev_ts,
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(50, int(15_000 * sf)), n_ev)),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, table in t.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
