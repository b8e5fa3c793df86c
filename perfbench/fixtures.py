"""Seeded input generators for the benchmark.

Nothing here touches the engine: the benchmark hands the engine only the
files written by these functions.

- ``write_query_fixtures`` writes the ten fixture tables the query surface
  reads (the schemas of FIXTURES.md), scaled by ``sf`` like the repository's
  own seed-42 fixtures (sf 0.01 -> 60 k lineitem rows).
- ``IngestStream`` is the keyed event stream of the reference job: a base
  table of keyed events over day partitions, then event files that mostly
  update existing keys of the most recent days and add a few new keys.
  Every key lives in one day partition for its whole life, so each file
  rewrites the same partitions and the table grows only by the new keys;
  every row has a distinct ``ts`` that grows with its position in the
  stream, so "latest by ts" has no ties and equals "latest in stream order".
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 00:00:00 UTC, in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in µs

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Fixed-point (2 dp) amounts, the fixtures' convention for measures."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    # zoneless micros, like the repository fixtures
    return pa.array(values_us, pa.timestamp("us"))


def write_query_fixtures(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table; returns
    the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    adjectives = np.array(["small", "large", "hot", "blue", "green", "red"])
    nouns = np.array(["ring", "bolt", "gear", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                nouns[rng.integers(0, 6, n_part)],
            ),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    order_day = rng.integers(0, 2_403, n_ord)  # 1995-01-01 .. 2001-07-31
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + order_day * _US_PER_DAY),
            "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    first = np.cumsum(lines) - lines
    l_line = np.arange(n_li) - np.repeat(first, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            # parts concentrate on a hot subset so co-purchase pairs repeat
            # (the pagerank graph keeps pairs bought together twice or more)
            "l_partkey": pa.array(
                np.where(
                    rng.random(n_li) < 0.5,
                    rng.integers(0, max(50, n_part // 40), n_li),
                    rng.integers(0, n_part, n_li),
                ),
                pa.int64(),
            ),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995 + ship_day * _US_PER_DAY),
        }
    )
    event_types = np.array(["click", "error", "purchase", "signup", "view"])
    n_users = min(n_cust, 1_500)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_evt)),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": event_types[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    words = np.array(_WORDS)
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word replaced
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, 5, n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.8, (n_vec, 64))).astype(np.float32) / 8.0
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


@dataclass
class IngestStream:
    """The keyed event stream fed to the ingest workload.

    ``keys`` base-table keys spread evenly over ``days`` day partitions;
    each event file holds ``batch_rows`` rows, of which ``new_share`` are
    new keys and the rest updates of existing keys, all in the
    ``hot_days`` most recent days. A key may repeat within a file (the
    engine's within-batch precombine resolves it).

    The defaults follow the reference job's traffic: one event file is one
    trigger at its default 10 s window from one Kinesis shard at its
    1,000 records/s ceiling, so 10,000 rows. The reference fixes no table
    size; a day partition holds as many keys as one trigger brings, so the
    copy-on-write rewrite of the hot partitions grows with the traffic.
    """

    seed: int
    keys: int = 50_000
    days: int = 5
    hot_days: int = 3
    batch_rows: int = 10_000
    new_share: float = 0.05

    def day_names(self) -> list[str]:
        return [
            np.datetime_as_string(np.datetime64("2024-01-01") + np.timedelta64(d, "D"))
            for d in range(self.days)
        ]

    def write(self, out_dir: str, n_files: int) -> tuple[str, list[str]]:
        """Write the base table and ``n_files`` event files; returns the base
        path and the event-file paths in stream order."""
        rng = np.random.default_rng(self.seed)
        names = np.array(self.day_names())
        os.makedirs(out_dir, exist_ok=True)
        key_day = np.arange(self.keys) % self.days
        hot = np.flatnonzero(key_day >= self.days - self.hot_days)
        next_ts = _EPOCH_2024

        def table(keys: np.ndarray, day_idx: np.ndarray) -> pa.Table:
            nonlocal next_ts
            n = len(keys)
            ts = next_ts + np.arange(n) * 7 + rng.integers(0, 7, n)
            next_ts += n * 7
            return pa.table(
                {
                    "key": pa.array(keys, pa.int64()),
                    "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                    "value": _money(rng, 0, 1000, n),
                    "day": pa.array(names[day_idx], pa.string()),
                }
            )

        base = os.path.join(out_dir, "base.parquet")
        pq.write_table(table(np.arange(self.keys), key_day), base)
        files = []
        next_key = self.keys
        for i in range(n_files):
            n_new = int(round(self.batch_rows * self.new_share))
            upd = rng.choice(hot, self.batch_rows - n_new)
            fresh_days = rng.integers(self.days - self.hot_days, self.days, n_new)
            fresh = np.arange(next_key, next_key + n_new)
            next_key += n_new
            hot = np.concatenate([hot, fresh])
            key_day = np.concatenate([key_day, fresh_days])
            keys = np.concatenate([upd, fresh])
            order = rng.permutation(len(keys))
            keys = keys[order]
            path = os.path.join(out_dir, f"events-{i:05d}.parquet")
            pq.write_table(table(keys, key_day[keys]), path)
            files.append(path)
        return base, files
