"""HTTP feed fetcher (A1, reference api_utils.py:57-74): GET one feed
with bearer token + custom headers, 30 s timeout, 3 retries with 1 s
delay (A9, reference gtfs_rt_assets.py:52), per-feed error isolation
(A8, gtfs_rt_assets.py:85-94).

Driver-side by design: fetching N feeds per minute is not distributed
work; the engine's scalable contract starts at the spool directory the
fetcher writes (streaming/ingest.py). stdlib urllib only — no extra deps.
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone

from transit_feed_etl_spark.sources.gtfs_wire import parse_feed_message


def fetch_feed(feed: dict, timeout: float = 30.0) -> bytes:
    """GET one feed's payload. Bearer auth + custom headers parity."""
    req = urllib.request.Request(feed["url"])
    if feed.get("api_token"):
        req.add_header("Authorization", f"Bearer {feed['api_token']}")
    for k, v in (feed.get("headers") or {}).items():
        req.add_header(k, v)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        if resp.status >= 400:  # urllib raises for most, belt & braces
            raise urllib.error.HTTPError(
                feed["url"], resp.status, "feed fetch failed", resp.headers, None
            )
        return resp.read()


def fetch_with_retry(
    feed: dict, max_retries: int = 3, delay_s: float = 1.0, timeout: float = 30.0
) -> bytes:
    """A9 retry budget: 3 retries, 1 s delay."""
    last: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            return fetch_feed(feed, timeout=timeout)
        except Exception as e:  # noqa: BLE001 — isolate any fetch failure
            last = e
            time.sleep(delay_s)
    raise last  # type: ignore[misc]


def spool_all_feeds(
    feeds: list[dict],
    spool_dir: str,
    parser=None,
    now: datetime | None = None,
) -> dict:
    """Fetch every feed, write one JSON spool file per feed per tick
    (RAW_FEED_SCHEMA-shaped), isolating per-feed failures (A8).

    `parser(payload: bytes, feed_id: str) -> dict` converts the raw
    payload to the {feed_id, fetch_ts, entity: [...]} shape; by default
    `gtfs_wire.parse_feed_message` decodes the protobuf FeedMessage and
    stamps every record with `now` (default: the current UTC time) as a
    UTC instant. Returns success/error counters (A22 metadata parity)."""
    os.makedirs(spool_dir, exist_ok=True)
    now = now or datetime.now(timezone.utc)
    stamp = now.strftime("%Y%m%d_%H%M%S")
    ok, errors = 0, {}
    for feed in feeds:
        try:
            payload = fetch_with_retry(feed)
            if parser is None:
                record = parse_feed_message(payload, feed["id"], now)
            else:
                record = parser(payload, feed["id"])
            path = os.path.join(spool_dir, f"{feed['id']}_{stamp}.json")
            with open(path, "w") as f:
                json.dump(record, f)
            ok += 1
        except Exception as e:  # noqa: BLE001 — A8: log & continue
            errors[feed["id"]] = repr(e)
    return {"success": ok, "errors": errors, "stamp": stamp}
