"""Dependency-free GTFS-realtime FeedMessage decoder (A3 byte path,
reference gtfs_rt_assets.py:26-49).

The runtime image has no `google.transit` bindings, so the byte-level
decode is implemented directly against two PUBLIC specifications:

- the protobuf wire format (developers.google.com/protocol-buffers/docs/encoding):
  a message is a sequence of (tag, value) where tag = (field_no << 3) | wire_type;
  wire types used by GTFS-RT are 0 (varint), 2 (length-delimited: strings
  and nested messages) and 5 (32-bit: floats); 1 (64-bit) appears only in
  Position.odometer which we skip;
- the gtfs-realtime.proto schema (gtfs.org/realtime/gtfs-realtime.proto),
  whose field numbers are fixed by the spec:

    FeedMessage:       header=1, entity=2(repeated)
    FeedHeader:        gtfs_realtime_version=1, incrementality=2, timestamp=3
    FeedEntity:        id=1, is_deleted=2, trip_update=3, vehicle=4, alert=5
    VehiclePosition:   trip=1, position=2, current_stop_sequence=3,
                       current_status=4, timestamp=5, congestion_level=6,
                       stop_id=7, vehicle=8, occupancy_status=9
    Position:          latitude=1, longitude=2, bearing=3, odometer=4, speed=5
    TripDescriptor:    trip_id=1, start_time=2, start_date=3,
                       schedule_relationship=4, route_id=5, direction_id=6
    VehicleDescriptor: id=1, label=2, license_plate=3

Proto2 presence semantics (the reference's HasField guards,
gtfs_rt_assets.py:38-46) fall out naturally: a field is present iff its
tag appears on the wire, absent fields stay None.

Output matches the struct subset of `pipeline.gtfs.RAW_FEED_SCHEMA`,
so `flatten_feed` consumes decoded bytes and JSON-shaped fixtures
identically. The distributed path (`decode_feed_files`) pairs a
binaryFile scan with mapInPandas — one Python decode per FILE (a feed
message is one small blob; per-file granularity is the natural Arrow
batch unit), never per row of the flattened output.
"""

from __future__ import annotations

import struct
from datetime import datetime, timezone
from typing import Iterator

WT_VARINT, WT_I64, WT_LEN, WT_SGROUP, WT_EGROUP, WT_I32 = 0, 1, 2, 3, 4, 5


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    """Decode one base-128 varint at offset i -> (value, next_offset)."""
    shift = val = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 64 bits")


def parse_fields(buf: bytes) -> dict[int, list[tuple[int, object]]]:
    """Parse one message body into {field_no: [(wire_type, raw_value)]}.

    raw_value: int for varints, bytes for length-delimited/fixed fields.
    Unknown fields are retained (callers simply don't look them up) —
    same forward-compatibility contract as real protobuf.
    """
    out: dict[int, list[tuple[int, object]]] = {}
    i = 0
    while i < len(buf):
        tag, i = _varint(buf, i)
        field_no, wt = tag >> 3, tag & 0x7
        if wt == WT_VARINT:
            val, i = _varint(buf, i)
        elif wt == WT_LEN:
            n, i = _varint(buf, i)
            if i + n > len(buf):
                raise ValueError(f"truncated length-delimited field {field_no}")
            val = buf[i : i + n]
            i += n
        elif wt == WT_I32:
            if i + 4 > len(buf):
                raise ValueError(f"truncated fixed32 field {field_no}")
            val = buf[i : i + 4]
            i += 4
        elif wt == WT_I64:
            if i + 8 > len(buf):
                raise ValueError(f"truncated fixed64 field {field_no}")
            val = buf[i : i + 8]
            i += 8
        else:  # groups: removed in proto3, never emitted by GTFS-RT
            raise ValueError(f"unsupported wire type {wt} (field {field_no})")
        out.setdefault(field_no, []).append((wt, val))
    return out


def _first(fields: dict, no: int, wt: int):
    for w, v in fields.get(no, ()):
        if w == wt:
            return v
    return None


def _f32(fields: dict, no: int) -> float | None:
    raw = _first(fields, no, WT_I32)
    return None if raw is None else float(struct.unpack("<f", raw)[0])


def _str(fields: dict, no: int) -> str | None:
    raw = _first(fields, no, WT_LEN)
    return None if raw is None else raw.decode("utf-8")


def _int(fields: dict, no: int) -> int | None:
    return _first(fields, no, WT_VARINT)


def _decode_position(buf: bytes) -> dict:
    f = parse_fields(buf)
    return {
        "latitude": _f32(f, 1),
        "longitude": _f32(f, 2),
        "bearing": _f32(f, 3),
        "speed": _f32(f, 5),
    }


def _decode_vehicle_position(buf: bytes) -> dict:
    f = parse_fields(buf)
    trip = _first(f, 1, WT_LEN)
    pos = _first(f, 2, WT_LEN)
    desc = _first(f, 8, WT_LEN)
    trip_f = parse_fields(trip) if trip is not None else None
    return {
        "vehicle": (
            {"id": _str(parse_fields(desc), 1)} if desc is not None else None
        ),
        "position": _decode_position(pos) if pos is not None else None,
        "trip": (
            {"trip_id": _str(trip_f, 1), "route_id": _str(trip_f, 5)}
            if trip_f is not None
            else None
        ),
        "current_stop_sequence": _int(f, 3),
        "current_status": _int(f, 4),
    }


def decode_feed_message(payload: bytes) -> dict:
    """FeedMessage bytes -> {header: {...}, entity: [RAW_FEED_SCHEMA
    entity structs]}. Entities without a `vehicle` field keep
    vehicle=None (the existence filter A4 drops them downstream, exactly
    like the reference's HasField('vehicle') gate)."""
    msg = parse_fields(payload)
    header_raw = _first(msg, 1, WT_LEN)
    header = None
    if header_raw is not None:
        hf = parse_fields(header_raw)
        header = {
            "gtfs_realtime_version": _str(hf, 1),
            "incrementality": _int(hf, 2),
            "timestamp": _int(hf, 3),
        }
    entities = []
    for wt, ebuf in msg.get(2, ()):
        if wt != WT_LEN:
            continue
        ef = parse_fields(ebuf)
        veh = _first(ef, 4, WT_LEN)
        entities.append(
            {
                "id": _str(ef, 1),
                "vehicle": _decode_vehicle_position(veh) if veh is not None else None,
            }
        )
    return {"header": header, "entity": entities}


def parse_feed_message(payload: bytes, feed_id: str, fetch_ts: datetime) -> dict:
    """FeedMessage bytes -> one spool record in the RAW_FEED_SCHEMA shape
    (feed_id, fetch_ts, entity[]). `fetch_ts` is written as its UTC
    instant with a `Z` suffix, so Spark's JSON reader parses the same
    instant in any session time zone; a naive datetime is taken as UTC.
    NULL-guarding of absent sub-messages happens downstream in
    `flatten_feed`."""
    if fetch_ts.tzinfo is not None:
        fetch_ts = fetch_ts.astimezone(timezone.utc)
    return {
        "feed_id": feed_id,
        "fetch_ts": fetch_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "entity": decode_feed_message(payload)["entity"],
    }


# --- encoder (test/fixture support: build real wire bytes without any
# protobuf dependency; same public wire spec, written not read) ---------


def _enc_varint(val: int) -> bytes:
    out = bytearray()
    while True:
        b = val & 0x7F
        val >>= 7
        if val:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_tag(field_no: int, wt: int) -> bytes:
    return _enc_varint((field_no << 3) | wt)


def enc_str(field_no: int, s: str) -> bytes:
    raw = s.encode("utf-8")
    return _enc_tag(field_no, WT_LEN) + _enc_varint(len(raw)) + raw


def enc_msg(field_no: int, body: bytes) -> bytes:
    return _enc_tag(field_no, WT_LEN) + _enc_varint(len(body)) + body


def enc_f32(field_no: int, v: float) -> bytes:
    return _enc_tag(field_no, WT_I32) + struct.pack("<f", v)


def enc_varint_field(field_no: int, v: int) -> bytes:
    return _enc_tag(field_no, WT_VARINT) + _enc_varint(v)


def encode_vehicle_entity(
    entity_id: str,
    vehicle_id: str | None = None,
    lat: float | None = None,
    lon: float | None = None,
    speed: float | None = None,
    bearing: float | None = None,
    trip_id: str | None = None,
    route_id: str | None = None,
    stop_sequence: int | None = None,
    status: int | None = None,
) -> bytes:
    """One FeedEntity with a VehiclePosition, wire-encoded. None skips
    the field entirely (proto2 absence)."""
    pos = b""
    if lat is not None:
        pos += enc_f32(1, lat)
    if lon is not None:
        pos += enc_f32(2, lon)
    if bearing is not None:
        pos += enc_f32(3, bearing)
    if speed is not None:
        pos += enc_f32(5, speed)
    trip = b""
    if trip_id is not None:
        trip += enc_str(1, trip_id)
    if route_id is not None:
        trip += enc_str(5, route_id)
    vp = b""
    if trip:
        vp += enc_msg(1, trip)
    if pos:
        vp += enc_msg(2, pos)
    if stop_sequence is not None:
        vp += enc_varint_field(3, stop_sequence)
    if status is not None:
        vp += enc_varint_field(4, status)
    if vehicle_id is not None:
        vp += enc_msg(8, enc_str(1, vehicle_id))
    return enc_msg(2, enc_str(1, entity_id) + enc_msg(4, vp))


def encode_feed_message(entities: bytes, header_ts: int = 0) -> bytes:
    header = enc_str(1, "2.0") + enc_varint_field(3, header_ts)
    return enc_msg(1, header) + entities


# --- distributed decode ------------------------------------------------


def decode_feed_files(spark, path: str):
    """binaryFile scan -> mapInPandas decode -> RAW_FEED_SCHEMA rows.

    One decoded row per .pb FILE (feed_id from the filename stem,
    fetch_ts from the file's modificationTime — the batch-stamp
    semantics of reference gtfs_rt_assets.py:79). Feeds are small blobs,
    so per-file rows are the right Arrow batch granularity; the heavy
    per-ENTITY work stays in `flatten_feed`'s JVM explode."""
    import pandas as pd

    from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA

    raw = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                stem = p.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                msg = decode_feed_message(bytes(content))
                rows.append(
                    {
                        "feed_id": stem,
                        "fetch_ts": mtime,
                        "entity": msg["entity"],
                    }
                )
            yield pd.DataFrame(rows, columns=["feed_id", "fetch_ts", "entity"])

    return raw.select("path", "modificationTime", "content").mapInPandas(
        decode, RAW_FEED_SCHEMA
    )
