"""A3 byte-path tests: decode real FeedMessage wire bytes into
RAW_FEED_SCHEMA with no protobuf dependency (sources/gtfs_wire.py).

The golden payload is hand-assembled from the PUBLIC protobuf wire spec
(tag = field_no<<3 | wire_type; varint lengths) and the public
gtfs-realtime.proto field numbers — independent of the module's own
encoder, so encoder and decoder can't share a bug.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta, timezone

import pytest

from transit_feed_etl_spark.sources import gtfs_wire as W


def _golden_feed() -> bytes:
    """One entity: id=e1, vehicle{trip{t1,r9}, position{10.5,-3.25},
    stop_seq=5, status=2, vehicle{bus7}} — every byte spelled out."""
    lat = struct.pack("<f", 10.5)      # 00 00 28 41
    lon = struct.pack("<f", -3.25)     # 00 00 50 c0
    position = b"\x0d" + lat + b"\x15" + lon            # fields 1,2 wt5
    trip = b"\x0a\x02t1" + b"\x2a\x02r9"                # trip_id=1, route_id=5
    vdesc = b"\x0a\x04bus7"                             # VehicleDescriptor.id=1
    vp = (
        b"\x0a" + bytes([len(trip)]) + trip             # VehiclePosition.trip=1
        + b"\x12" + bytes([len(position)]) + position   # .position=2
        + b"\x18\x05"                                   # .current_stop_sequence=3
        + b"\x20\x02"                                   # .current_status=4
        + b"\x42" + bytes([len(vdesc)]) + vdesc         # .vehicle=8
    )
    entity = b"\x0a\x02e1" + b"\x22" + bytes([len(vp)]) + vp  # id=1, vehicle=4
    return b"\x12" + bytes([len(entity)]) + entity      # FeedMessage.entity=2


def test_decode_golden_bytes():
    msg = W.decode_feed_message(_golden_feed())
    assert len(msg["entity"]) == 1
    e = msg["entity"][0]
    assert e["id"] == "e1"
    v = e["vehicle"]
    assert v["vehicle"] == {"id": "bus7"}
    assert v["position"]["latitude"] == pytest.approx(10.5)
    assert v["position"]["longitude"] == pytest.approx(-3.25)
    assert v["position"]["speed"] is None      # absent on wire -> None
    assert v["position"]["bearing"] is None
    assert v["trip"] == {"trip_id": "t1", "route_id": "r9"}
    assert v["current_stop_sequence"] == 5
    assert v["current_status"] == 2


def test_decode_header_and_multibyte_varint():
    payload = W.encode_feed_message(b"", header_ts=1_700_000_000)
    msg = W.decode_feed_message(payload)
    assert msg["header"]["gtfs_realtime_version"] == "2.0"
    assert msg["header"]["timestamp"] == 1_700_000_000  # 5-byte varint
    assert msg["entity"] == []


def test_encoder_decoder_roundtrip_with_absence():
    ents = W.encode_vehicle_entity(
        "a", vehicle_id="v1", lat=1.5, lon=2.5, speed=7.25
    ) + W.encode_vehicle_entity("b", trip_id="tX")  # no position, no vdesc
    msg = W.decode_feed_message(W.encode_feed_message(ents, header_ts=7))
    a, b = msg["entity"]
    assert a["vehicle"]["position"]["speed"] == pytest.approx(7.25)
    assert a["vehicle"]["position"]["bearing"] is None
    assert a["vehicle"]["trip"] is None
    assert b["vehicle"]["position"] is None
    assert b["vehicle"]["trip"] == {"trip_id": "tX", "route_id": None}
    assert b["vehicle"]["vehicle"] is None


def test_non_vehicle_entity_kept_null():
    # alert-only entity (field 5) -> vehicle=None, existence filter food
    alert_entity = W.enc_msg(2, W.enc_str(1, "alert1") + W.enc_msg(5, b""))
    msg = W.decode_feed_message(alert_entity)
    assert msg["entity"][0] == {"id": "alert1", "vehicle": None}


def test_truncated_payload_raises():
    good = _golden_feed()
    with pytest.raises(ValueError):
        W.decode_feed_message(good[:-3])
    with pytest.raises(ValueError):
        W._varint(b"\xff\xff", 0)  # unterminated varint


def test_parse_feed_message_uses_wire_decoder_without_bindings():
    out = W.parse_feed_message(
        _golden_feed(), "sf_muni", datetime(2026, 1, 2, 3, 4, 5)
    )
    assert out["feed_id"] == "sf_muni"
    # a naive fetch time is taken as UTC and written with its offset
    assert out["fetch_ts"] == "2026-01-02T03:04:05Z"
    assert out["entity"][0]["vehicle"]["trip"]["route_id"] == "r9"
    aware = datetime(2026, 1, 1, 22, 4, 5, tzinfo=timezone(timedelta(hours=-5)))
    assert W.parse_feed_message(_golden_feed(), "f", aware)["fetch_ts"] == "2026-01-02T03:04:05Z"


def test_decode_feed_files_end_to_end(spark, tmp_path):
    """binaryFile -> mapInPandas decode -> flatten_feed: full A1+A3+A4+A5
    distributed byte path, real .pb files on disk."""
    from transit_feed_etl_spark.pipeline.gtfs import flatten_feed

    feed_a = W.encode_feed_message(
        W.encode_vehicle_entity(
            "e1", vehicle_id="bus1", lat=37.77, lon=-122.42,
            speed=5.5, trip_id="t1", route_id="14", stop_sequence=3, status=2,
        )
        + W.encode_vehicle_entity("e2", vehicle_id="bus2", lat=37.78, lon=-122.41),
        header_ts=100,
    )
    feed_b = W.encode_feed_message(
        W.enc_msg(2, W.enc_str(1, "alertX") + W.enc_msg(5, b""))  # no vehicle
        + W.encode_vehicle_entity("e3", vehicle_id="tram9", lat=52.52, lon=13.40),
        header_ts=101,
    )
    (tmp_path / "muni.pb").write_bytes(feed_a)
    (tmp_path / "bvg.pb").write_bytes(feed_b)

    raw = W.decode_feed_files(spark, str(tmp_path / "*.pb"))
    flat = flatten_feed(raw).orderBy("vehicle_id").collect()
    assert [r.vehicle_id for r in flat] == ["bus1", "bus2", "tram9"]
    assert [r.feed_id for r in flat] == ["muni", "muni", "bvg"]
    r0 = flat[0]
    assert r0.latitude == pytest.approx(37.77, abs=1e-5)
    assert r0.speed == pytest.approx(5.5)
    assert r0.trip_id == "t1" and r0.route_id == "14"
    assert r0.current_stop_sequence == 3 and r0.current_status == 2
    # null-guarded projection: absent sub-messages -> NULL columns
    assert flat[1].trip_id is None and flat[1].speed is None
    assert flat[2].current_status is None


def _spool_two_feeds(tmp_path):
    feed_a = W.encode_feed_message(
        W.encode_vehicle_entity(
            "e1", vehicle_id="bus1", lat=37.77, lon=-122.42,
            speed=5.5, trip_id="t1", route_id="14", stop_sequence=3, status=2,
        )
        + W.encode_vehicle_entity("e2", vehicle_id="bus2", lat=37.78, lon=-122.41),
        header_ts=100,
    )
    feed_b = W.encode_feed_message(
        W.enc_msg(2, W.enc_str(1, "alertX") + W.enc_msg(5, b""))  # no vehicle
        + W.encode_vehicle_entity("e3", vehicle_id="tram9", lat=52.52, lon=13.40),
        header_ts=101,
    )
    (tmp_path / "muni_20240101_000100.pb").write_bytes(feed_a)
    (tmp_path / "bvg_20240101_000200.pb").write_bytes(feed_b)
    return feed_a, feed_b


def test_python_datasource_batch_read(spark, tmp_path):
    """spark.read.format('gtfs_rt'): decode+filter+flatten inside a
    first-class Python Data Source, one partition per wire file."""
    from datetime import datetime, timedelta, timezone

    from transit_feed_etl_spark.sources.gtfs_datasource import GtfsRtDataSource

    _spool_two_feeds(tmp_path)
    spark.dataSource.register(GtfsRtDataSource)
    df = spark.read.format("gtfs_rt").load(str(tmp_path))
    rows = df.orderBy("vehicle_id").collect()
    assert [r.vehicle_id for r in rows] == ["bus1", "bus2", "tram9"]
    assert [r.feed_id for r in rows] == ["muni", "muni", "bvg"]
    assert rows[0].trip_id == "t1" and rows[0].current_stop_sequence == 3
    # fetch_ts comes from the stem (A28); session is pinned UTC so the
    # naive datetime Spark returns is the stem time exactly
    assert rows[2].ts == datetime(2024, 1, 1, 0, 2)
    # null-guarded projection inside the source
    assert rows[1].trip_id is None and rows[1].speed is None
    # alert-only entity dropped by the in-source existence filter
    assert df.count() == 3
    # parallelism contract: one input partition per wire file
    assert df.rdd.getNumPartitions() == 2


def test_python_datasource_stream_reads_new_files_only(spark, tmp_path):
    """gtfs_rt as a streaming source: first availableNow run consumes
    the existing spool; a second run from the SAME checkpoint decodes
    only files that arrived in between (engine-managed offsets replace
    the reference's cron bookkeeping)."""
    from transit_feed_etl_spark.sources.gtfs_datasource import GtfsRtDataSource

    spool = tmp_path / "spool"
    spool.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _spool_two_feeds(spool)
    spark.dataSource.register(GtfsRtDataSource)

    def run_once():
        q = (
            spark.readStream.format("gtfs_rt")
            .load(str(spool))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 3
    # one more file lands in the spool
    late = W.encode_feed_message(
        W.encode_vehicle_entity("e9", vehicle_id="bus9", lat=1.0, lon=2.0),
        header_ts=102,
    )
    (spool / "muni_20240101_000300.pb").write_bytes(late)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 4  # exactly one new row, no reprocessing
    assert got.filter("vehicle_id = 'bus9'").count() == 1
