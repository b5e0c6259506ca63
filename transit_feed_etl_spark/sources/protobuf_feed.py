"""GTFS-realtime protobuf adapter (A3 decode path, reference
gtfs_rt_assets.py:26-49). The byte path is ALWAYS available: when the
gtfs-realtime bindings (google.transit) are installed they are used;
otherwise `sources/gtfs_wire.py` decodes the FeedMessage directly from
the public protobuf wire format — no descriptor file, no dependency.
JSON/struct-shaped fixtures (FIXTURES.md F2) remain the streaming spool
shape; both paths land in the identical RAW_FEED_SCHEMA.
"""

from __future__ import annotations

from datetime import datetime

from transit_feed_etl_spark.sources import gtfs_wire

try:  # pragma: no cover — not present in the v1 image
    from google.transit import gtfs_realtime_pb2

    HAVE_GTFS_PB = True
except ImportError:
    gtfs_realtime_pb2 = None
    HAVE_GTFS_PB = False


def parse_feed_message(payload: bytes, feed_id: str, fetch_ts: datetime) -> dict:
    """Decode a FeedMessage into the RAW_FEED_SCHEMA dict shape
    (feed_id, fetch_ts, entity[]). Mirrors the reference's 11-field
    projection with HasField guards (gtfs_rt_assets.py:33-47) — but the
    null-guarding itself happens downstream in flatten_feed, which maps
    absent sub-messages to NULL structs."""
    if not HAVE_GTFS_PB:
        decoded = gtfs_wire.decode_feed_message(payload)
        return {
            "feed_id": feed_id,
            "fetch_ts": fetch_ts.strftime("%Y-%m-%dT%H:%M:%S"),
            "entity": decoded["entity"],
        }
    msg = gtfs_realtime_pb2.FeedMessage()
    msg.ParseFromString(payload)
    entities = []
    for entity in msg.entity:
        if not entity.HasField("vehicle"):
            entities.append({"id": entity.id or None, "vehicle": None})
            continue
        v = entity.vehicle
        entities.append(
            {
                "id": entity.id or None,
                "vehicle": {
                    "vehicle": {"id": v.vehicle.id} if v.HasField("vehicle") else None,
                    "position": (
                        {
                            "latitude": v.position.latitude,
                            "longitude": v.position.longitude,
                            "speed": v.position.speed if v.position.HasField("speed") else None,
                            "bearing": (
                                v.position.bearing if v.position.HasField("bearing") else None
                            ),
                        }
                        if v.HasField("position")
                        else None
                    ),
                    "trip": (
                        {"trip_id": v.trip.trip_id, "route_id": v.trip.route_id}
                        if v.HasField("trip")
                        else None
                    ),
                    "current_stop_sequence": (
                        v.current_stop_sequence
                        if v.HasField("current_stop_sequence")
                        else None
                    ),
                    "current_status": (
                        v.current_status if v.HasField("current_status") else None
                    ),
                },
            }
        )
    return {
        "feed_id": feed_id,
        "fetch_ts": fetch_ts.strftime("%Y-%m-%dT%H:%M:%S"),
        "entity": entities,
    }
