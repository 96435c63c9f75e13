"""Seeded input generation for the benchmark, outside Spark.

Two input sets, both pure functions of ``(seed, sf)``:

- ``write_tables``: the ten TPC-H-ish tables the entry queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the column
  names, types and value domains of the repository's test data
  (TESTDATA.md).
- ``EltInputs``: the four bronze tables of the paper's ELT path,
  derived from ``part``/``supplier``/``lineitem`` the way the
  ``warehouse_*`` entry queries derive them, plus a seeded per-batch
  delta (changed attributes, vanished keys, re-appearing keys, new
  keys) whose shares are fixed in ``config.json``.

numpy + pyarrow only, so staging costs no Spark job and the program
under test sees nothing but the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ROLES = ["director", "producer", "writer", "actor"]
EMB_DIM = 64


def _us(y: int, m: int, d: int) -> int:
    """Naive (UTC wall-clock) midnight as microseconds since the epoch."""
    return (datetime(y, m, d) - datetime(1970, 1, 1)) // _ONE_US


_ONE_US = datetime(1970, 1, 1, 0, 0, 0, 1) - datetime(1970, 1, 1)


def _days(rng, n, start, end):
    """``n`` midnight timestamps (µs) uniform in [start, end]."""
    lo, hi = _us(*start) // 86_400_000_000, _us(*end) // 86_400_000_000
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def _ts(values_us) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # planted near-duplicates: ~2% of documents copy an earlier one
    # with a " dup" marker, so dedup/template queries have work to do
    for i in np.flatnonzero(rng.random(n) < 0.02):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, EMB_DIM))
    v = rng.normal(size=(n, EMB_DIM)) + 0.2 * centroids[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query tables at scale factor ``sf`` (sf0.1 = 600k
    lineitem rows), deterministic in ``seed``."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_li, n_ev = 4 * n_ord, max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
            "l_shipdate": _ts(_days(rng, n_li, (1995, 1, 2), (2001, 11, 4))),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One ``<name>.parquet`` file per table; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total


# -- ELT bronze + seeded deltas ----------------------------------------------

_MOVIE_COLS = [
    "url", "movie_name", "original_name", "year", "certificate", "rating",
    "genres", "budget", "gross_worldwide", "min_duration",
]


@dataclass
class Delta:
    """Keys touched by one batch, as movie (part) keys."""

    changed: set[int] = field(default_factory=set)
    vanished: set[int] = field(default_factory=set)
    reappeared: set[int] = field(default_factory=set)
    new: set[int] = field(default_factory=set)


class EltInputs:
    """Bronze state for the multi-batch ELT workload.

    Movies are parts (``part`` → ``movie_raw_*``: p_name is the title,
    p_size the duration, p_type the genre list, retail price the
    rating/budget/gross); cast rows are the distinct
    ``(l_partkey, l_suppkey)`` pairs (supplier name = person, role by
    supplier key).  The metacritic side carries the even part keys
    under its own URL prefix, so every movie_info_sat row has its own
    key.  Each ``advance`` draws the next batch's delta from the
    seeded generator; the delta is the ground truth the SCD2 counts
    are reconciled against.
    """

    def __init__(self, seed: int, sf: float, shares: dict[str, float]):
        self.rng = np.random.default_rng([seed, int(sf * 1_000_000), 7])
        tab = make_tables(seed, sf)
        part, supp, li = tab["part"], tab["supplier"], tab["lineitem"]
        self.part = {c: part[c].to_numpy(zero_copy_only=False) for c in part.column_names}
        n = len(self.part["p_partkey"])
        order = self.rng.permutation(n)
        n_pool = int(round(shares["new_pool"] * n))
        self.present = set(order[n_pool:].tolist())
        self.pool = order[:n_pool].tolist()  # never-seen keys, drawn as "new"
        self.vanished: set[int] = set()
        self.rating_bump = np.zeros(n, dtype=np.int64)
        self.shares = shares
        pairs = np.unique(
            np.stack([li["l_partkey"].to_numpy(), li["l_suppkey"].to_numpy()], 1), axis=0
        )
        self.cast_part, self.cast_supp = pairs[:, 0], pairs[:, 1]
        self.supp_name = np.array(supp["s_name"].to_pylist())

    def _sample(self, keys, share: float) -> set[int]:
        keys = sorted(keys)
        k = int(round(share * len(keys)))
        if k == 0:
            return set()
        return set(self.rng.choice(keys, size=k, replace=False).tolist())

    def advance(self) -> Delta:
        """Apply the next batch's seeded delta to the bronze state."""
        d = Delta()
        d.changed = self._sample(self.present, self.shares["changed"])
        d.vanished = self._sample(self.present - d.changed, self.shares["vanished"])
        d.reappeared = self._sample(self.vanished, self.shares["reappear"])
        k_new = min(len(self.pool), int(round(self.shares["new"] * len(self.part["p_partkey"]))))
        d.new, self.pool = set(self.pool[:k_new]), self.pool[k_new:]
        for key in d.changed:
            self.rating_bump[key] += 1
        self.present = (self.present - d.vanished) | d.reappeared | d.new
        self.vanished = (self.vanished - d.reappeared) | d.vanished
        return d

    def _movies(self, keys: np.ndarray, url_prefix: str) -> pa.Table:
        p = {c: v[keys] for c, v in self.part.items()}
        price = p["p_retailprice"]
        # whole tenths on top of the rounded base, so every bump changes
        # the rendered string
        tenths = np.round(price / 20.0).astype(np.int64) + self.rating_bump[keys]
        return pa.table(
            {
                "url": [f"{url_prefix}{k}" for k in p["p_partkey"]],
                "movie_name": p["p_name"].tolist(),
                "original_name": pa.nulls(len(keys), pa.string()),
                "year": ["1999"] * len(keys),
                "certificate": p["p_brand"].tolist(),
                "rating": [f"{t // 10}.{t % 10}" for t in tenths],
                "genres": [f"['{t}']" for t in p["p_type"]],
                "budget": [str(int(x * 1000)) for x in price],
                "gross_worldwide": [str(int(x * 2000)) for x in price],
                "min_duration": [str(s) for s in p["p_size"]],
            }
        )

    def _cast(self, movie_keys: np.ndarray) -> pa.Table:
        keep = np.isin(self.cast_part, movie_keys)
        pk, sk = self.cast_part[keep], self.cast_supp[keep]
        name = self.supp_name[sk]
        return pa.table(
            {
                "movie_name": self.part["p_name"][pk].tolist(),
                "movie_duration": pa.array(self.part["p_size"][pk], pa.int32()),
                "name": name.tolist(),
                "raw_role": [f"(as {x})" for x in name],
                "role": np.array(ROLES)[sk % 4].tolist(),
            }
        )

    def bronze(self) -> dict[str, pa.Table]:
        keys = np.array(sorted(self.present), dtype=np.int64)
        meta = keys[keys % 2 == 0]
        return {
            "movie_raw_data_imdb": self._movies(keys, "http://parts/"),
            "movie_raw_data_metacritic": self._movies(meta, "http://meta/"),
            "actor_raw_data_imdb": self._cast(keys),
            "actor_raw_data_metacritic": self._cast(meta),
        }

    def sat_rows(self, keys: set[int]) -> int:
        """movie_info_sat rows a set of movie keys maps to (one per
        source the key appears in)."""
        return sum(1 + (k % 2 == 0) for k in keys)


def write_bronze(tables: dict[str, pa.Table], bronze_root: str) -> tuple[int, int]:
    """Truncate-then-load each bronze table as one parquet file inside
    the ``<table>.parquet`` directory the engine's reader expects;
    returns (rows, bytes)."""
    rows = nbytes = 0
    for name, tab in tables.items():
        d = os.path.join(bronze_root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for f in os.listdir(d):
            os.remove(os.path.join(d, f))
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(tab, path)
        rows += tab.num_rows
        nbytes += os.path.getsize(path)
    return rows, nbytes
