"""Feed registry (A2) + HTTP fetch (A1/A8/A9) tests — fetch driven
against a local http.server so retry/error-isolation behavior is
observed, not mocked at the function level."""

from __future__ import annotations

import http.server
import threading

import pytest

from transit_feed_etl_spark.sources.http_fetch import fetch_with_retry, spool_all_feeds
from transit_feed_etl_spark.sources.registry import (
    FEED_SCHEMA,
    feeds_dataframe,
    normalize_feeds,
)

CONFIG = {
    "feeds": {
        "mta_bus": {"url": "http://x/feed", "api_token": "tok", "headers": {"a": "b"}},
        "bart": {"url": "http://y/feed"},
        "broken": {},  # malformed: no url -> skipped, not fatal
    }
}


def test_normalize_feeds():
    feeds = normalize_feeds(CONFIG)
    assert [f["id"] for f in feeds] == ["mta_bus", "bart"]
    assert feeds[0]["api_token"] == "tok" and feeds[0]["headers"] == {"a": "b"}
    assert feeds[1]["api_token"] is None and feeds[1]["headers"] is None


def test_feeds_dataframe(spark):
    df = feeds_dataframe(spark, normalize_feeds(CONFIG))
    assert df.schema == FEED_SCHEMA
    rows = {r["id"]: r for r in df.collect()}
    assert rows["mta_bus"]["headers"]["a"] == "b"


class _Handler(http.server.BaseHTTPRequestHandler):
    hits: dict[str, int] = {}
    auth_seen: dict[str, str] = {}

    def do_GET(self):  # noqa: N802
        _Handler.hits[self.path] = _Handler.hits.get(self.path, 0) + 1
        if self.headers.get("Authorization"):
            _Handler.auth_seen[self.path] = self.headers["Authorization"]
        if self.path == "/flaky" and _Handler.hits[self.path] < 3:
            self.send_response(503)
            self.end_headers()
            return
        if self.path == "/dead":
            self.send_response(500)
            self.end_headers()
            return
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b'{"ok": true}')

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def server():
    srv = http.server.HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_fetch_retry_recovers(server):
    payload = fetch_with_retry(
        {"id": "f", "url": f"{server}/flaky", "api_token": "tk"}, delay_s=0.05
    )
    assert payload == b'{"ok": true}'
    assert _Handler.hits["/flaky"] == 3  # A9: retried to success
    assert _Handler.auth_seen["/flaky"] == "Bearer tk"  # A1: bearer header


def test_spool_isolates_failures(server, tmp_path):
    feeds = [
        {"id": "good", "url": f"{server}/ok"},
        {"id": "bad", "url": f"{server}/dead"},
    ]
    result = spool_all_feeds(
        feeds,
        str(tmp_path / "spool"),
        parser=lambda payload, fid: {"feed_id": fid, "fetch_ts": "2024-01-01T00:00:00", "entity": []},
    )
    assert result["success"] == 1
    assert "bad" in result["errors"]  # A8: failure isolated, run continues
    spooled = list((tmp_path / "spool").iterdir())
    assert len(spooled) == 1 and spooled[0].name.startswith("good_")


def test_spooled_fetch_ts_is_the_utc_instant_in_any_session_time_zone(spark, tmp_path, monkeypatch):
    """The default parser writes the fetch time with its UTC offset, so a
    session in another time zone reads the spool record's `fetch_ts` as
    the instant it was fetched."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA
    from transit_feed_etl_spark.sources import gtfs_wire as W
    from transit_feed_etl_spark.sources import http_fetch

    payload = W.encode_feed_message(
        W.encode_vehicle_entity("e1", vehicle_id="bus1", lat=40.7, lon=-74.0)
    )
    monkeypatch.setattr(http_fetch, "fetch_with_retry", lambda feed: payload)
    spool = str(tmp_path / "spool")
    now = datetime(2024, 3, 1, 12, 0, tzinfo=timezone.utc)
    assert spool_all_feeds([{"id": "mta", "url": "unused"}], spool, now=now)["success"] == 1
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        row = spark.read.schema(RAW_FEED_SCHEMA).json(spool).select(
            "feed_id", F.unix_micros("fetch_ts")
        ).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert tuple(row) == ("mta", int(now.timestamp()) * 10**6)
