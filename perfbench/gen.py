"""Seeded input generator for the benchmark.

Everything the program reads is written here from a ``numpy`` Generator
seeded by ``--seed``: the same seed gives byte-identical inputs. Nothing
is read from outside the benchmark's work directory.

- :func:`write_relational` writes the ten fixture tables the entry
  registry's queries read (TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``), with the value domains the queries
  filter on (``BUILDING``, ``ASIA``, ``Brand#1``, ``ECONOMY``, dates
  around 1998, events in January 2024, a 30-word token vocabulary with
  stopwords, 64-d unit embeddings in 10 clusters).
- :class:`EventSource` is a mutable ``events`` source for the CDC
  workloads. Each :meth:`EventSource.tick` re-stamps a share of the rows
  to a later ``ts`` with a changed ``value`` and appends new ids, and
  records the delta the program must report: its row count and its max
  ``ts``. Every version is written to a FRESH directory, because
  ``sources.tables.load_table`` memoizes the analyzed relation per
  (session, path) and would read a rewritten path from a stale listing.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
P_ADJ = np.array(["red", "new", "hot", "small", "cold", "large", "old", "blue"])
P_NOUN = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

#: rows per table at scale factor 1 (the fixtures' sf0.1 is a tenth)
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
DAY_US = 86_400_000_000


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_columns(rng: np.random.Generator, first_id: int, n: int, n_users: int) -> dict:
    """``n`` events with ids ``first_id..``, ts increasing over 30 days."""
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # a few exact copies and ~2.5% one-token near-duplicates, so the
    # dedup/LSH queries find something
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    for i in rng.choice(np.arange(1, n), max(1, n // 40), replace=False):
        toks = texts[rng.integers(0, i)].split()
        toks[rng.integers(0, len(toks))] = "dup"
        texts[i] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(0.0, 1.0, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def write_relational(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(10, int(v * sf)) for k, v in SF1_ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(P_ADJ[rng.integers(0, 8, npart)], " "),
                              P_NOUN[rng.integers(0, 8, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": P_TYPES[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) * 0.1, 1),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days("1995-01-01", odays), pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    linenum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days("1995-01-01", np.repeat(odays, lines) + rng.integers(1, 122, nl)),
            pa.timestamp("us"),
        ),
    })
    ne = n["events"]
    _write(out_dir, "events", events_columns(rng, 0, ne, max(10, ne * 3 // 200)))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    n.update(region=5, nation=25, lineitem=nl)
    return n


class EventSource:
    """A growing ``events`` table for the CDC workloads.

    ``restamp`` is the share of live rows each tick moves to a later
    ``ts`` with a changed ``value`` (an UPDATE in the source database);
    ``insert`` is the share of new ids appended (INSERTs). Version ``k``
    of the table is written to ``<root>/v<k>/events.parquet``."""

    def __init__(self, root: str, n_rows: int, seed: int,
                 restamp: float = 0.001, insert: float = 0.0001):
        self.root = root
        self.rng = np.random.default_rng([seed, 2])
        self.restamp = restamp
        self.insert = insert
        self.n_users = max(10, n_rows * 3 // 200)
        self.cols = events_columns(self.rng, 0, n_rows, self.n_users)
        self.cols["ts"] = self.cols["ts"].to_numpy()
        self.version = -1

    @property
    def n_rows(self) -> int:
        return len(self.cols["event_id"])

    def max_ts_us(self) -> int:
        return int(self.cols["ts"].astype(np.int64).max())

    def write(self) -> str:
        """Write the current rows as the next version; returns its dir."""
        self.version += 1
        out = os.path.join(self.root, f"v{self.version}")
        os.makedirs(out, exist_ok=True)
        cols = dict(self.cols, ts=pa.array(self.cols["ts"], pa.timestamp("us")))
        _write(out, "events", cols)
        return out

    def tick(self, n_restamp: int | None = None, n_insert: int | None = None) -> dict:
        """Apply one tick of changes in memory; returns the expected
        delta: ``rows`` past the previous max ``ts``, the new
        ``max_ts_us``, and the changed/new ``ids``."""
        n = self.n_rows
        n_restamp = max(1, int(n * self.restamp)) if n_restamp is None else n_restamp
        n_insert = max(1, int(n * self.insert)) if n_insert is None else n_insert
        base = self.max_ts_us()
        idx = self.rng.choice(n, n_restamp, replace=False)
        ts = self.cols["ts"].astype(np.int64)
        ts[idx] = base + 1 + np.sort(self.rng.integers(0, 1_000_000, n_restamp))
        value = self.cols["value"].copy()
        value[idx] = np.round(value[idx] + self.rng.uniform(0.01, 10.0, n_restamp), 2)
        new = events_columns(self.rng, n, n_insert, self.n_users)
        new_ts = base + 1 + np.sort(self.rng.integers(0, 1_000_000, n_insert))
        self.cols = {
            "event_id": np.concatenate([self.cols["event_id"], new["event_id"]]),
            "ts": np.concatenate([ts, new_ts]).astype("datetime64[us]"),
            "user_id": np.concatenate([self.cols["user_id"], new["user_id"]]),
            "event_type": np.concatenate([self.cols["event_type"], new["event_type"]]),
            "value": np.concatenate([value, new["value"]]),
            "props": list(self.cols["props"]) + new["props"],
        }
        return {
            "rows": n_restamp + n_insert,
            "max_ts_us": self.max_ts_us(),
            "ids": np.concatenate([self.cols["event_id"][idx], new["event_id"]]),
        }
