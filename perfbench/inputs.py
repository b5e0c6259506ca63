"""Seeded input generators for the benchmark workloads.

Everything a workload reads is produced here from ``--seed``; the same
seed gives the same inputs. Three families:

- ``make_tables`` + ``write_tables``: the star-schema and corpus tables
  the registered queries read (``transit_feed_etl_spark.io.TABLES``),
  one parquet file each, with the schemas and row counts of the
  reference tables the queries were written against (independent
  uniform keys, 2-decimal money columns, day-grained dates, 10-99
  words per document from a 30-word vocabulary, 0.16 % exact-duplicate
  and 5 % near-duplicate documents, unit-norm float32 embeddings).
  ``compare_tables.py`` compares the two on these properties.
- ``feed_entities`` + ``feed_json``: GTFS-realtime feeds in the JSON
  (``RAW_FEED_SCHEMA``) shape the live spool reads, one file per feed.
- ``write_pb_feed``: the same entities as a protobuf wire file, built
  with the package's own encoder, with the mtime pinned to the fetch
  time (``decode_feed_files`` takes ``fetch_ts`` from the file mtime).

The entity mix per feed: about 2 % non-vehicle entities
(``vehicle: null``), about 5 % vehicles with no position, about 3 %
out-of-range coordinates (quarantined), about 2 % vehicles with no
vehicle descriptor. Feed sizes are skewed 8:2:1.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc

# ---- star-schema + corpus tables ------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "valve", "washer", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(np.int64)) + 1
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts, exactly as a decimal literal reads."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(d: np.ndarray) -> pa.Array:
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
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
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    odate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    ship = (
        ORDER_DAY0
        + rng.integers(0, ORDER_DAYS, n_line).astype("timedelta64[D]")
        + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(ship),
        }
    )
    # distinct, sorted microsecond event times; event_id follows time order
    off = np.sort(rng.choice(EVENT_SPAN_US, n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(EVENT_T0 + off.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        for _ in range(n_doc)
    ]
    # plant exact duplicates (0.16 % of documents) and near duplicates
    # (5 %: another document's text plus one word)
    for _ in range(n_doc * 16 // 10_000):
        src, dst = (int(x) for x in rng.integers(0, n_doc, 2))
        texts[dst] = texts[src]
    near = rng.choice(n_doc, 2 * (n_doc // 20), replace=False)
    for src, dst in near.reshape(2, -1).T:
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        # one row group per table, like the tables the queries were tuned on
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=1 << 30)


# ---- GTFS-realtime feeds ------------------------------------------------------

FEEDS = (("mta_bus", 8), ("bart", 2), ("septa", 1))  # (feed_id, size weight)


@dataclass(frozen=True)
class Entity:
    entity_id: str
    is_vehicle: bool
    vehicle_id: str | None
    lat: float | None
    lon: float | None
    speed: float | None
    bearing: float | None
    trip_id: str | None
    route_id: str | None
    stop_sequence: int | None
    status: int | None

    @property
    def bad(self) -> bool:
        """Quarantined by ``validate_positions``: both coordinates present
        and outside WGS84 bounds."""
        return (
            self.lat is not None
            and self.lon is not None
            and (abs(self.lat) > 90.0 or abs(self.lon) > 180.0)
        )


def feed_entities(rng: np.random.Generator, feed_id: str, n: int) -> list[Entity]:
    kind = rng.random(n)
    lat = np.round(rng.normal(40.71, 0.15, n), 6)
    lon = np.round(rng.normal(-74.0, 0.15, n), 6)
    speed = np.round(rng.uniform(0.0, 30.0, n), 2)
    bearing = np.round(rng.uniform(0.0, 360.0, n), 1)
    route = rng.integers(0, 20, n)
    seq = rng.integers(1, 61, n)
    status = rng.integers(0, 3, n)
    out = []
    for i in range(n):
        k = kind[i]
        if k < 0.02:  # non-vehicle entity (alert / trip update)
            out.append(Entity(f"{feed_id}-e{i}", False, *([None] * 9)))
            continue
        la, lo = float(lat[i]), float(lon[i])
        if k < 0.07:  # vehicle without a position
            la = lo = None
        elif k < 0.10:  # out-of-range coordinates
            la = float(np.round(rng.uniform(90.5, 120.0), 6))
        out.append(
            Entity(
                f"{feed_id}-e{i}",
                True,
                None if 0.10 <= k < 0.12 else f"{feed_id}_v{i:05d}",
                la,
                lo,
                float(speed[i]),
                float(bearing[i]),
                f"{feed_id}_t{i % 400}",
                f"r{route[i]}",
                int(seq[i]),
                int(status[i]),
            )
        )
    return out


def feed_sizes(total: int) -> list[tuple[str, int]]:
    w = sum(x for _, x in FEEDS)
    return [(f, total * x // w) for f, x in FEEDS]


def feed_json(feed_id: str, fetch_ts: dt.datetime, ents: list[Entity]) -> str:
    def one(e: Entity) -> dict:
        if not e.is_vehicle:
            return {"id": e.entity_id, "vehicle": None}
        return {
            "id": e.entity_id,
            "vehicle": {
                "vehicle": None if e.vehicle_id is None else {"id": e.vehicle_id},
                "position": None
                if e.lat is None
                else {
                    "latitude": e.lat,
                    "longitude": e.lon,
                    "speed": e.speed,
                    "bearing": e.bearing,
                },
                "trip": {"trip_id": e.trip_id, "route_id": e.route_id},
                "current_stop_sequence": e.stop_sequence,
                "current_status": e.status,
            },
        }

    return json.dumps(
        {
            "feed_id": feed_id,
            "fetch_ts": fetch_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "entity": [one(e) for e in ents],
        }
    )


def write_pb_feed(path: str, ents: list[Entity], fetch_ts: dt.datetime) -> None:
    """One FeedMessage wire file with its mtime pinned to ``fetch_ts``."""
    from transit_feed_etl_spark.sources.gtfs_wire import (
        enc_msg,
        enc_str,
        encode_feed_message,
        encode_vehicle_entity,
    )

    body = b""
    for e in ents:
        if not e.is_vehicle:
            body += enc_msg(2, enc_str(1, e.entity_id))
            continue
        body += encode_vehicle_entity(
            e.entity_id,
            vehicle_id=e.vehicle_id,
            lat=e.lat,
            lon=e.lon,
            speed=None if e.lat is None else e.speed,
            bearing=None if e.lat is None else e.bearing,
            trip_id=e.trip_id,
            route_id=e.route_id,
            stop_sequence=e.stop_sequence,
            status=e.status,
        )
    ts = int(fetch_ts.timestamp())
    with open(path, "wb") as fh:
        fh.write(encode_feed_message(body, header_ts=ts))
    os.utime(path, (ts, ts))
