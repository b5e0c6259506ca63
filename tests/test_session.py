"""The session factory's default driver heap fits the host."""

from __future__ import annotations

from transit_feed_etl_spark import session


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_default_driver_memory_is_half_the_host_capped_at_48g(monkeypatch):
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 15 * 2**30)
    assert _mb(session.default_driver_memory()) == 15 * 1024 // 2
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 512 * 2**30)
    assert _mb(session.default_driver_memory()) == 48 * 1024
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: None)
    assert _mb(session.default_driver_memory()) == 48 * 1024


def test_default_driver_memory_stays_below_this_host():
    host = session._host_memory_bytes()
    assert host is not None
    assert _mb(session.default_driver_memory()) * 2**20 <= max(2**30, host // 2)
