"""Seeded input generators: the ADS star schema and the event stream.

Everything here is a pure function of ``seed`` (plus a size), so two runs
with the same seed see byte-identical inputs. Value domains mirror the
repo's ``events``/TPC-H-ish fixtures, so every catalog query behind the
ADS routes returns non-empty rows on the generated tables.

Both workloads draw events from one model (``events``). Its columns
follow the ``events`` fixture (sf0.01 and sf0.1): event types uniform
over five, ``value`` exponential with mean 50 in cents, ``props`` a
uniform ``{"k": 0..99}``, and a user key space of 15,000 per unit of
scale. The fixture's users are uniform and its events in time order; the
stream workloads need key skew and disorder, so the model adds both
(``ZIPF_S``, ``LATE_SHARE``, ``MAX_LATE_S``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
EVENT_DDL = ("event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string")

# the first event's timestamp; event time is this plus the scheduled offset
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))

# the fixture's key space: 150 users at sf0.01, 1,500 at sf0.1
USERS_PER_SF = 15_000
# the streams' key space is the sf0.1 fixture's: a 30 s stream run
# commits about 90,000 events, close to sf0.1's 100,000
STREAM_USERS = 1_500
# user activity skew: user k (from 0) is drawn with weight (k+1)^-ZIPF_S.
# The fixture carries none; 0.8 lies in the 0.64-0.83 range Breslau et
# al. (INFOCOM 1999) measured for web request popularity, a stand-in for
# per-user page-view skew, for which the repo has no measurement
ZIPF_S = 0.8
# disorder: this share of events carries an event time displaced back by
# up to MAX_LATE_S. The fixture has none; 5% puts about a hundred late
# events in every stream file, so the out-of-order path runs every batch
LATE_SHARE = 0.05
# one file interval, under the jobs' 2 s watermark: no event is dropped,
# so final tables are deterministic
MAX_LATE_S = 1.5

_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())
_COLORS = np.array("blue old small new large hot cold red".split())
_NOUNS = np.array("widget gizmo ring gear bolt plate rod anvil".split())
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE",
                      "HOUSEHOLD"])
_PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_LANGS = np.array(["en", "es", "zh", "de", "fr"])


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _cents(rng, lo: int, hi: int, size: int) -> np.ndarray:
    return rng.integers(lo, hi, size) / 100.0


def events(rng, created_us: np.ndarray, first_id: int,
           n_users: int) -> pa.Table:
    """Events created at ``created_us`` with ids from ``first_id``.

    Users are Zipf-skewed over ``n_users`` keys (user 0 the busiest); a
    ``LATE_SHARE`` of events carry an event time displaced back by less
    than ``MAX_LATE_S``."""
    n = len(created_us)
    weights = 1.0 / np.arange(1, n_users + 1) ** ZIPF_S
    late = rng.random(n) < LATE_SHARE
    shift = rng.integers(1, int(MAX_LATE_S * 1e6), n)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(np.where(late, created_us - shift, created_us),
                       pa.timestamp("us")),
        "user_id": rng.choice(n_users, n, p=weights / weights.sum()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }, schema=EVENT_SCHEMA)


ADS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")


def ads_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables behind the 24 publisher routes (and their oracles),
    ``scale`` ≈ TPC-H scale factor."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_orders = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(10, int(USERS_PER_SF * scale))
    n_docs = max(20, int(50_000 * scale))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(_COLORS, n_part), " "),
                              rng.choice(_NOUNS, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(np.array(["O", "P", "F"]), n_orders),
        "o_totalprice": _cents(rng, 100_191, 49_999_319, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    flags = rng.integers(0, 6, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_068, 10_499_992, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "N", "A", "A", "N", "R"])[flags],
        "l_linestatus": np.array(["O", "O", "F", "O", "F", "F"])[flags],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = events(rng, EPOCH_US + offs, 0, n_users)
    lens = rng.integers(8, 100, n_docs)
    text = [" ".join(rng.choice(_WORDS, n)) for n in lens]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    return t


def write_ads_tables(seed: int, scale: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in ads_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class EventStream:
    """The seeded event source of the stream workloads.

    Events are created at evenly spaced instants: file ``i`` holds the
    events created in ``(start(i), due(i)]`` seconds after the stream's
    epoch, so its last event is created exactly when the file is due. The
    first ``small_files`` files hold ``small_rows`` events over
    ``small_interval`` seconds each, the rest ``rows`` over ``interval``.
    Users are drawn from ``STREAM_USERS`` keys.
    """

    def __init__(self, seed: int, rows: int, interval: float,
                 small_files: int, small_rows: int, small_interval: float):
        self.seed = seed
        self.rows = rows
        self.interval = interval
        self.small_files = small_files
        self.small_rows = small_rows
        self.small_interval = small_interval

    def start(self, i: int) -> float:
        """Seconds after the stream's epoch at which file ``i``'s span starts."""
        small = min(i, self.small_files)
        return small * self.small_interval + (i - small) * self.interval

    def due(self, i: int) -> float:
        """Seconds after the stream's epoch at which file ``i`` is due."""
        return self.start(i + 1)

    def rows_in(self, i: int) -> int:
        return self.small_rows if i < self.small_files else self.rows

    def rows_before(self, i: int) -> int:
        """Events in files ``0 .. i-1``; also file ``i``'s first event id."""
        small = min(i, self.small_files)
        return small * self.small_rows + (i - small) * self.rows

    def batch(self, i: int) -> pa.Table:
        n, t = self.rows_in(i), self.start(i)
        created = EPOCH_US + np.round(
            (t + np.arange(1, n + 1) * (self.due(i) - t) / n) * 1e6
        ).astype(np.int64)
        return events(np.random.default_rng([self.seed, 3, i]), created,
                      self.rows_before(i), STREAM_USERS)

    def write(self, i: int, directory: str) -> int:
        """Write file ``i`` atomically (hidden temp name, then rename).

        Returns the file's size in bytes."""
        final = os.path.join(directory, f"part-{i:06d}.parquet")
        tmp = os.path.join(directory, f".part-{i:06d}.tmp")
        pq.write_table(self.batch(i), tmp)
        os.rename(tmp, final)
        return os.path.getsize(final)
