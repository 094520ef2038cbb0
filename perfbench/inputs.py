"""Seeded input generators. The same seed gives the same inputs; the
program under test sees only what these write.

* :func:`write_corpus` writes the ten corpus tables with the schemas and
  value domains of the test corpus (FIXTURES.md §B), with a stated
  share of planted near-duplicate documents and clustered embeddings.
* :class:`SeededPriceApi` is the simulated price API for the ETL
  workload: the public response shape, no network, no sleeps, and a
  closed form for every daily average.
"""

from __future__ import annotations

import datetime
import os
import re
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZONES = ("SE1", "SE2", "SE3", "SE4")
DAY0 = datetime.date(2024, 1, 1)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "large", "small", "red", "hot", "green", "steel")
_PART_NOUN = ("widget", "bolt", "anvil", "gear", "spring", "valve", "nut", "pipe")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_WORDS = (
    "join hash row batch scan customer column filter small slow merge order vector line data "
    "table agg value key stream window spark a group part big sort query fast the"
).split()


#: documents in the corpus (at every scale, like the test corpus)
N_DOCS = 500
#: share of documents that are a planted near-duplicate of an earlier
#: document (a copy with " dup" appended once or twice)
DUP_SHARE = 0.05
#: weight of the label centre in each embedding before normalising;
#: higher means tighter clusters
CLUSTER_WEIGHT = 0.35


def write_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write ``{table}.parquet`` for the ten corpus tables under
    ``out_dir``; returns the row count per table. Table sizes at
    ``scale`` 1 match the test corpus at sf0.01."""
    rng = np.random.default_rng(seed)

    def rows(base: int) -> int:
        return max(1, int(round(base * scale)))
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict, schema: pa.Schema) -> None:
        table = pa.table(cols, schema=schema)
        counts[name] = table.num_rows
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]))

    n_cust = rows(1500)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))

    n_supp = rows(100)
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    n_part = rows(2000)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    n_ord = rows(15000)
    first, last = np.datetime64("1995-01-01"), np.datetime64("2001-08-01")
    odate = first + rng.integers(0, int((last - first).astype(int)) + 1, n_ord).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[ms]"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("ms")), ("o_orderpriority", pa.string())]))

    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(1.0, 2.33, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": (odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")).astype("datetime64[ms]"),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("ms"))]))

    # events: 30 January days at every scale (density scales, not the
    # range), microsecond timestamps stored as TIMESTAMP(NANOS)
    n_ev = rows(10000)
    span_us = 30 * 86400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts = (np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")).astype("datetime64[ns]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(np.clip(rng.exponential(50.0, n_ev), 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("ns")), ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    n_doc = N_DOCS
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    n_dup = int(round(n_doc * DUP_SHARE))
    for i in sorted(rng.choice(np.arange(n_doc // 2, n_doc), n_dup, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_doc // 2))] + " dup" * int(rng.integers(1, 3))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()), ("n_chars", pa.int64())]))

    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    noise = rng.normal(size=(n_vec, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = CLUSTER_WEIGHT * centres[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]))
    return counts


# ------------------------------------------------------ simulated price API

_URL = re.compile(r"/prices/(\d{4})/(\d{2})-(\d{2})_(SE\d)\.json")


class SeededPriceApi:
    """The public price API's response shape as a pure function of the
    request URL: hour ``h`` of ``date`` in ``zone`` costs
    ``base[zone] + slope[zone] * day_no + hour_step[zone] * h`` with
    small integers, so the 24-hour average
    ``base + slope * day_no + 11.5 * hour_step`` is exact in binary
    floating point (``day_no`` counts days from 2024-01-01).

    ``calls`` is a Spark accumulator (or None) counting fetches; the
    fetch runs on Python workers, so only an accumulator sees them."""

    def __init__(self, base: dict[str, int], slope: dict[str, int], hour_step: dict[str, int], calls=None):
        self.base, self.slope, self.hour_step, self.calls = base, slope, hour_step, calls

    @classmethod
    def from_seed(cls, seed: int, calls=None) -> "SeededPriceApi":
        rng = np.random.default_rng(seed)
        return cls(
            {z: int(rng.integers(100, 1000)) for z in ZONES},
            {z: int(rng.integers(1, 6)) for z in ZONES},
            {z: int(rng.integers(1, 4)) for z in ZONES},
            calls,
        )

    def avg_price(self, zone: str, day: datetime.date) -> float:
        day_no = (day - DAY0).days
        return float(self.base[zone] + self.slope[zone] * day_no) + 11.5 * self.hour_step[zone]

    def __call__(self, url: str, headers: dict | None = None) -> list[dict]:
        m = _URL.search(url)
        if m is None:
            raise ValueError(f"unexpected fetch URL: {url}")
        day = datetime.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        zone = m.group(4)
        if self.calls is not None:
            self.calls.add(1)
        base = self.base[zone] + self.slope[zone] * (day - DAY0).days
        step = self.hour_step[zone]
        return [
            {"SEK_per_kWh": float(base + step * h), "EUR_per_kWh": 0.0, "EXR": 11.0,
             "time_start": f"{h:02d}:00", "time_end": f"{h + 1:02d}:00"}
            for h in range(24)
        ]
