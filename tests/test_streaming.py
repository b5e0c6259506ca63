"""Streaming tests: end-to-end spool->ingest->catalog (A23 pipeline as a
Structured Streaming query) and the Phase-3 window/dedup/session/stateful
semantics, driven synchronously with availableNow/processAllAvailable."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from transit_feed_etl_spark.streaming.ingest import start_ingest
from transit_feed_etl_spark.streaming.windows import (
    dedup_within_watermark,
    session_windows,
    stateful_anomaly_counts,
    windowed_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def _spool_file(path, feed_id, ts_iso, entities):
    with open(path, "w") as f:
        json.dump({"feed_id": feed_id, "fetch_ts": ts_iso, "entity": entities}, f)


def test_ingest_stream_end_to_end(spark, tmp_path):
    spool = tmp_path / "spool"
    spool.mkdir()
    ent = lambda vid, lat, lon: {  # noqa: E731
        "id": vid,
        "vehicle": {
            "vehicle": {"id": vid},
            "position": {"latitude": lat, "longitude": lon, "speed": 1.0, "bearing": 0.0},
            "trip": {"trip_id": "t", "route_id": "r"},
            "current_stop_sequence": 1,
            "current_status": 2,
        },
    }
    _spool_file(spool / "mta_1.json", "mta", "2024-03-01T12:00:00", [ent("v1", 40.7, -74.0)])
    _spool_file(
        spool / "mta_2.json",
        "mta",
        "2024-03-01T12:01:00",
        [ent("v2", 40.8, -73.9), {"id": "x", "vehicle": None}, ent("bad", 99.0, -500.0)],
    )

    q, metrics, catalog = start_ingest(
        spark,
        str(spool),
        str(tmp_path / "out"),
        str(tmp_path / "catalog"),
        str(tmp_path / "ckpt"),
        quarantine_root=str(tmp_path / "quarantine"),
        available_now=True,
    )
    q.awaitTermination(120)

    assert metrics.records == 2  # v1, v2 (x filtered by A4; bad quarantined by A8)
    assert metrics.quarantined == 1
    assert catalog.total_records() == 2
    assert catalog.check_not_empty()["passed"]
    data = spark.read.parquet(str(tmp_path / "out"))
    assert {r["vehicle_id"] for r in data.collect()} == {"v1", "v2"}
    quar = spark.read.parquet(str(tmp_path / "quarantine"))
    assert quar.collect()[0]["vehicle_id"] == "bad"


def _vehicle_entity(vid, lat, lon):
    return {
        "id": vid,
        "vehicle": {
            "vehicle": {"id": vid},
            "position": {"latitude": lat, "longitude": lon, "speed": 1.0, "bearing": 0.0},
            "trip": {"trip_id": "t", "route_id": "r"},
            "current_stop_sequence": 1,
            "current_status": 2,
        },
    }


def _feed_batch(spark, tmp_path, name, ts_iso, entities):
    """A static frame in the stream's raw shape: what foreachBatch hands
    the batch processor."""
    from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA

    d = tmp_path / name
    d.mkdir()
    _spool_file(d / "f.json", "mta", ts_iso, entities)
    return spark.read.schema(RAW_FEED_SCHEMA).json(str(d))


def test_all_bad_batch_is_still_quarantined(spark, tmp_path):
    """A batch with no valid vehicle writes nothing to the sink or the
    catalog, but its out-of-range rows still reach the quarantine."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(
        str(tmp_path / "out"), catalog, str(tmp_path / "quarantine")
    )
    batch = _feed_batch(
        spark, tmp_path, "b0", "2024-03-01T12:00:00", [_vehicle_entity("bad", 99.0, -500.0)]
    )
    process(batch, 0)
    assert (metrics.records, metrics.quarantined, metrics.empty_batches) == (0, 1, 1)
    assert not (tmp_path / "out").exists()
    assert catalog.total_records() == 0
    quar = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert [r["vehicle_id"] for r in quar] == ["bad"]


@pytest.mark.xfail(
    strict=True,
    reason="replay is not idempotent yet: a replayed batch appends its sink, "
    "catalog and quarantine rows again (ROADMAP.md direction 3)",
)
def test_replayed_batch_leaves_outputs_unchanged(spark, tmp_path):
    """foreachBatch delivers at least once, so a batch can arrive twice
    under the same batch_id. After the replay the sink, the catalog and
    the quarantine must read as after one call: (sink, catalog,
    quarantine) = (2, 2, 1)."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    out, quarantine = str(tmp_path / "out"), str(tmp_path / "quarantine")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, _ = make_batch_processor(out, catalog, quarantine)
    ents = [
        _vehicle_entity("v1", 40.7, -74.0),
        _vehicle_entity("v2", 40.8, -73.9),
        _vehicle_entity("bad", 99.0, -500.0),
    ]
    batch = _feed_batch(spark, tmp_path, "b0", "2024-03-01T12:00:00", ents)
    process(batch, 7)
    process(batch, 7)
    counts = (
        spark.read.parquet(out).count(),
        catalog.total_records(),
        spark.read.parquet(quarantine).count(),
    )
    assert counts == (2, 2, 1)


# Spark jobs one GeoParquet tick with a quarantined row launches: the
# collect of the whole flattened batch, good and bad rows together, to
# the driver as Arrow (one stage, no exchange). The sink and quarantine
# files, the footers, the catalog commit and the quality check are
# written on the driver and launch none. Measured in fresh sessions at
# local[1], local[4] and local[8]; the same at each, so the budget
# carries no margin.
TICK_JOB_BUDGET = 1


def test_ingest_tick_job_count_stays_on_budget(spark, tmp_path):
    """The tick's fixed cost in jobs, counted from the job group one
    process(batch, id) call runs under."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(
        str(tmp_path / "out"), catalog, str(tmp_path / "quarantine")
    )
    sc = spark.sparkContext
    ents = [
        _vehicle_entity("v1", 40.7, -74.0),
        _vehicle_entity("v2", 40.8, -73.9),
        {"id": "x", "vehicle": None},
        _vehicle_entity("bad", 99.0, -500.0),
    ]
    jobs = []
    for k in range(2):  # the first tick and one with catalog history
        batch = _feed_batch(spark, tmp_path, f"b{k}", f"2024-03-01T12:0{k}:00", ents)
        group = f"ingest-tick-job-net-{k}"
        sc.setJobGroup(group, "ingest tick job net")
        try:
            process(batch, k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert (metrics.records, metrics.quarantined) == (4, 2)
    assert all(c["passed"] for c in metrics.checks)
    assert jobs == [TICK_JOB_BUDGET] * 2, jobs


def _multi_feed_batch(spark, tmp_path, name, feeds):
    """One raw batch holding several spool files: (fetch ts, entities)."""
    from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA

    d = tmp_path / name
    d.mkdir()
    for i, (ts_iso, entities) in enumerate(feeds):
        _spool_file(d / f"f{i}.json", "mta", ts_iso, entities)
    return spark.read.schema(RAW_FEED_SCHEMA).json(str(d))


def test_tick_catalog_rows_equal_append_batch_partitions(spark, tmp_path):
    """The tick takes its catalog rows from its per-hour good/bad
    aggregate; they equal the rows `append_batch_partitions` writes for
    the batch's good rows. The batch spans two hours, and a third hour
    holding only out-of-range rows gets no catalog row."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.pipeline.gtfs import (
        flatten_feed,
        validate_positions,
        with_time_partitions,
    )
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    batch = _multi_feed_batch(spark, tmp_path, "b", [
        ("2024-03-01T11:59:00", [
            _vehicle_entity("v1", 40.7, -74.0),
            _vehicle_entity("v2", 40.6, -73.8),
            _vehicle_entity("bad1", 99.0, -500.0),
        ]),
        ("2024-03-01T12:00:30", [
            _vehicle_entity("v3", 40.9, -73.5),
            _vehicle_entity("v4", None, None),  # valid, no position
        ]),
        ("2024-03-01T13:10:00", [_vehicle_entity("bad2", 95.0, -74.0)]),
    ])
    out = str(tmp_path / "out")
    tick_cat = FileCatalog(spark, str(tmp_path / "tick_catalog"))
    process, metrics = make_batch_processor(out, tick_cat, str(tmp_path / "quarantine"))
    process(batch, 7)
    assert (metrics.records, metrics.quarantined) == (4, 2)

    ref_cat = FileCatalog(spark, str(tmp_path / "ref_catalog"))
    good = validate_positions(flatten_feed(batch))[0]
    ref_cat.append_batch_partitions(with_time_partitions(good), 7, out)

    def rows(cat):
        return sorted(
            tuple(r)
            for r in cat.read()
            .select("batch_id", "file_path", F.unix_micros("ts"), "record_count",
                    "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
            .collect()
        )

    got = rows(tick_cat)
    assert got == rows(ref_cat)
    hour = lambda h: f"{out}/year=2024/month=3/day=1/hour={h}"  # noqa: E731
    us = lambda iso: int(datetime.fromisoformat(iso + "+00:00").timestamp()) * 10**6  # noqa: E731
    assert got == [
        (7, hour(11), us("2024-03-01T11:59:00"), 2, -74.0, 40.6, -73.8, 40.7),
        (7, hour(12), us("2024-03-01T12:00:30"), 2, -73.5, 40.9, -73.5, 40.9),
    ]


def _tick_rows(cat):
    """A catalog's rows, NaN made comparable."""
    import math

    return sorted(
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in cat.read()
        .select("batch_id", "file_path", F.unix_micros("ts"), "record_count",
                "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
        .collect()
    )


def test_tick_catalog_rows_keep_spark_nan_semantics(spark, tmp_path):
    """The tick computes its catalog rows on the driver; they still equal
    Spark's `append_batch_partitions` rows when valid rows carry NaN,
    +-inf or NULL coordinates (a row is out of range only when both
    coordinates are present). Spark's MAX is NaN once a NaN is present
    and its MIN is NaN only when every value is; pyarrow's own min/max
    skip NaN."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.pipeline.gtfs import (
        flatten_feed,
        validate_positions,
        with_time_partitions,
    )
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    nan, inf = float("nan"), float("inf")
    batch = _multi_feed_batch(spark, tmp_path, "b", [
        ("2024-03-01T11:59:00", [
            _vehicle_entity("v1", 40.7, -74.0),
            _vehicle_entity("v2", nan, None),
            _vehicle_entity("v3", None, inf),
            _vehicle_entity("bad1", nan, -74.0),
        ]),
        ("2024-03-01T12:00:30", [
            _vehicle_entity("v4", nan, None),
            _vehicle_entity("v5", None, None),
        ]),
        ("2024-03-01T13:10:00", [
            _vehicle_entity("v6", None, -inf),
            _vehicle_entity("v7", -inf, None),
            _vehicle_entity("v8", 41.0, -73.0),
            _vehicle_entity("bad2", 41.0, inf),
        ]),
    ])
    out = str(tmp_path / "out")
    tick_cat = FileCatalog(spark, str(tmp_path / "tick_catalog"))
    process, metrics = make_batch_processor(out, tick_cat, str(tmp_path / "quarantine"))
    process(batch, 3)
    assert (metrics.records, metrics.quarantined) == (8, 2)

    ref_cat = FileCatalog(spark, str(tmp_path / "ref_catalog"))
    good = validate_positions(flatten_feed(batch))[0]
    ref_cat.append_batch_partitions(with_time_partitions(good), 3, out)
    got = _tick_rows(tick_cat)
    assert got == _tick_rows(ref_cat)
    assert [r[4:] for r in got] == [
        (-74.0, 40.7, inf, "NaN"),
        (None, "NaN", None, "NaN"),
        (-inf, -inf, -73.0, 41.0),
    ]


def test_tick_opens_no_sink_file(spark, tmp_path, monkeypatch):
    """A GeoParquet tick opens one parquet file: the catalog file its own
    commit added, which the quality check reads. It opens none already
    in the sink, not even in the hour the tick writes to, and no staged
    copy of its batch."""
    import os

    import pyarrow.parquet as pq

    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    out = str(tmp_path / "out")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(out, catalog, str(tmp_path / "quarantine"))

    def tick(k, ts_iso):
        ents = [_vehicle_entity(f"v{k}", 40.7, -74.0), _vehicle_entity(f"bad{k}", 99.0, 0.0)]
        return _feed_batch(spark, tmp_path, f"b{k}", ts_iso, ents)

    process(tick(0, "2024-03-01T12:00:00"), 0)
    process(tick(1, "2024-03-01T13:00:00"), 1)

    committed = set(os.listdir(catalog.path))
    opened = []
    for name in ("read_metadata", "read_table", "read_schema", "ParquetFile", "ParquetDataset"):
        real = getattr(pq, name)

        def spy(src, *a, _real=real, **k):
            opened.append(str(src))
            return _real(src, *a, **k)

        monkeypatch.setattr(pq, name, spy)
    process(tick(2, "2024-03-01T13:01:00"), 2)
    monkeypatch.undo()
    added = [os.path.join(catalog.path, f) for f in os.listdir(catalog.path) if f not in committed]
    assert opened == added, opened
    assert metrics.records == 3
    assert spark.read.parquet(out).count() == 3


@pytest.mark.parametrize("fail_at", ["hour_file", "commit"])
def test_failed_tick_leaves_no_output(spark, tmp_path, monkeypatch, fail_at):
    """A tick that raises after Spark staged its batch, while writing its
    second hour file or in the catalog commit, leaves no parquet file in
    any hour partition, no quarantine file, no catalog row and no staging
    directory; Spark still reads the sink and the catalog as before."""
    import os

    import pyarrow.parquet as pq

    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    out, quarantine = str(tmp_path / "out"), str(tmp_path / "quarantine")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, _ = make_batch_processor(out, catalog, quarantine)
    process(_feed_batch(spark, tmp_path, "b0", "2024-03-01T12:00:00", [
        _vehicle_entity("v0", 40.7, -74.0), _vehicle_entity("bad0", 99.0, 0.0),
    ]), 0)

    def files():
        return sorted(
            os.path.join(root, f)
            for d in (out, quarantine, catalog.path)
            for root, _, names in os.walk(d)
            for f in names
        )

    before = files()
    batch = _multi_feed_batch(spark, tmp_path, "b1", [
        ("2024-03-01T12:30:00", [
            _vehicle_entity("v1", 40.8, -73.9), _vehicle_entity("bad1", 99.0, 0.0),
        ]),
        ("2024-03-01T14:00:00", [
            _vehicle_entity("v2", 40.9, -73.8), _vehicle_entity("bad2", 0.0, 500.0),
        ]),
    ])
    if fail_at == "hour_file":
        real, calls = pq.write_table, []

        def write_table(*a, **k):
            calls.append(1)
            if len(calls) == 2:
                raise OSError("disk full")
            return real(*a, **k)

        monkeypatch.setattr(pq, "write_table", write_table)
    else:
        def commit_rows(*_a, **_k):
            raise OSError("disk full")

        monkeypatch.setattr(catalog, "commit_rows", commit_rows)
    with pytest.raises(OSError, match="disk full"):
        process(batch, 1)
    monkeypatch.undo()

    assert files() == before
    assert sorted(r["vehicle_id"] for r in spark.read.parquet(out).collect()) == ["v0"]
    assert [r["vehicle_id"] for r in spark.read.parquet(quarantine).collect()] == ["bad0"]
    assert catalog.total_records() == 1
    assert catalog.check_not_empty()["passed"]


def test_sink_outputs_read_back_in_another_time_zone(spark, tmp_path):
    """Spark, in a session whose time zone is not UTC, reads `ts` from the
    GeoParquet sink and the quarantine as a TimestampType holding the
    spool's instants, reads `geometry` as WKB binary, and the catalog's
    bbox read and snapshot read return the sink's rows."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    out, quarantine = str(tmp_path / "out"), str(tmp_path / "quarantine")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(out, catalog, quarantine)
    spool = {0: "2024-03-01T12:00:00", 1: "2024-03-01T23:30:00"}
    for k, ts_iso in spool.items():
        process(_feed_batch(spark, tmp_path, f"b{k}", ts_iso, [
            _vehicle_entity(f"v{k}", 40.7 + k, -74.0), _vehicle_entity(f"bad{k}", 99.0, 0.0),
        ]), k)
    assert (metrics.records, metrics.quarantined) == (2, 2)
    us = {
        k: int(datetime.fromisoformat(v + "+00:00").timestamp()) * 10**6
        for k, v in spool.items()
    }

    def keyed(df):
        return sorted(tuple(r) for r in df.select("vehicle_id", F.unix_micros("ts")).collect())

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        sink, quar = spark.read.parquet(out), spark.read.parquet(quarantine)
        assert sink.schema["ts"].dataType == T.TimestampType()
        assert quar.schema["ts"].dataType == T.TimestampType()
        assert sink.schema["geometry"].dataType == T.BinaryType()
        assert quar.schema["geometry"].dataType == T.BinaryType()
        rows = keyed(sink)
        assert rows == [("v0", us[0]), ("v1", us[1])]
        assert keyed(quar) == [("bad0", us[0]), ("bad1", us[1])]
        assert keyed(catalog.read_bbox(-180.0, -90.0, 180.0, 90.0)) == rows
        assert keyed(catalog.read_bbox(-75.0, 41.5, -73.0, 42.0)) == [("v1", us[1])]
        assert keyed(catalog.read_snapshot(1)) == rows
        assert keyed(catalog.read_snapshot(0)) == [("v0", us[0])]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_tick_writes_naive_utc_ts_in_another_time_zone(spark, tmp_path):
    """A tick run in a session whose time zone is not UTC writes `ts` to
    its sink and quarantine files as pyarrow reads Spark's own files: a
    naive timestamp[us] holding the spool's UTC instant. Both files carry
    Spark's schema, so Spark reads `ts` back as a TimestampType."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    out, quarantine = str(tmp_path / "out"), str(tmp_path / "quarantine")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(out, catalog, quarantine)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        process(_feed_batch(spark, tmp_path, "b0", "2024-03-01T23:30:00Z", [
            _vehicle_entity("v0", 40.7, -74.0), _vehicle_entity("bad0", 99.0, 0.0),
        ]), 0)
        assert (metrics.records, metrics.quarantined) == (1, 1)
        (sink_file,) = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        (quar_file,) = glob.glob(os.path.join(quarantine, "*.parquet"))
        for path in (sink_file, quar_file):
            t = pq.read_table(path)
            assert t.schema.field("ts").type == pa.timestamp("us"), path
            assert t["ts"].to_pylist() == [datetime(2024, 3, 1, 23, 30)], path
            spark_schema = json.loads(t.schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"])
            assert [f["name"] for f in spark_schema["fields"]] == t.column_names, path
            df = spark.read.parquet(path)
            assert df.schema["ts"].dataType == T.TimestampType(), path
            assert df.select(F.unix_micros("ts")).first()[0] == int(
                datetime.fromisoformat("2024-03-01T23:30:00+00:00").timestamp()
            ) * 10**6
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_batch_of_non_vehicle_entities_is_empty(spark, tmp_path):
    """A spool file holding only non-vehicle entities flattens to an empty
    batch: it counts as an empty batch and writes no sink file, no
    quarantine file and no catalog row."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(
        str(tmp_path / "out"), catalog, str(tmp_path / "quarantine")
    )
    process(_feed_batch(spark, tmp_path, "b0", "2024-03-01T12:00:00", [
        {"id": "x", "vehicle": None}, {"id": "y"},
    ]), 0)
    assert (metrics.batches, metrics.empty_batches, metrics.records, metrics.quarantined) == (
        1, 1, 0, 0
    )
    assert metrics.checks == []
    for d in ("out", "quarantine", "catalog"):
        assert not (tmp_path / d).exists(), d


def test_rows_without_fetch_ts_land_in_the_default_partition(spark, tmp_path):
    """A feed file without `fetch_ts` gives rows with a NULL `ts`. The
    tick writes them, as Spark's partitioned write would, under Hive's
    default partition name, beside the hour the other rows fall in. That
    hour's catalog row has a NULL `ts`, and the freshness check answers
    as the catalog's Spark queries do."""
    import glob
    import os

    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from transit_feed_etl_spark.pipeline.gtfs import RAW_FEED_SCHEMA
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor
    from tests.test_pipeline import _check_parity

    d = tmp_path / "b"
    d.mkdir()
    _spool_file(d / "f0.json", "mta", "2024-03-01T12:00:00", [_vehicle_entity("v0", 40.7, -74.0)])
    with open(d / "f1.json", "w") as f:
        json.dump({"feed_id": "mta", "entity": [_vehicle_entity("v1", 40.8, -73.9)]}, f)
    out = str(tmp_path / "out")
    catalog = FileCatalog(spark, str(tmp_path / "catalog"))
    process, metrics = make_batch_processor(out, catalog)
    process(spark.read.schema(RAW_FEED_SCHEMA).json(str(d)), 0)
    assert metrics.records == 2
    default = "/".join(f"{c}=__HIVE_DEFAULT_PARTITION__" for c in ("year", "month", "day", "hour"))
    hours = sorted(
        os.path.relpath(os.path.dirname(p), out)
        for p in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    )
    assert hours == ["year=2024/month=3/day=1/hour=12", default]
    rows = spark.read.parquet(out).select("vehicle_id", "ts", "year").collect()
    assert sorted((r["vehicle_id"], r["ts"] is None, r["year"]) for r in rows) == [
        ("v0", False, 2024), ("v1", True, None)
    ]
    dated = f"{out}/year=2024/month=3/day=1/hour=12"
    assert sorted(r["file_path"] for r in catalog.read().collect()) == [dated, f"{out}/{default}"]
    # the undated hour's catalog row has a NULL ts: it neither anchors the
    # freshness lookback nor becomes the latest file
    check = catalog.check_not_empty()
    assert (check["total_records"], check["recent_records"], check["latest_file"]) == (2, 1, dated)
    assert catalog.latest_file()["file_path"] == dated
    _check_parity(catalog)

    # a catalog whose only rows are undated: no recent records, and the
    # latest file is the default partition
    undated_out = str(tmp_path / "undated_out")
    undated = FileCatalog(spark, str(tmp_path / "undated_catalog"))
    process, _ = make_batch_processor(undated_out, undated)
    process(spark.read.schema(RAW_FEED_SCHEMA).json(str(d / "f1.json")), 0)
    check = undated.check_not_empty()
    assert (check["total_records"], check["recent_records"]) == (1, 0)
    assert check["latest_file"] == f"{undated_out}/{default}" and not check["passed"]
    _check_parity(undated)


def test_spool_backlog_drains_in_capped_batches(spark, tmp_path, monkeypatch):
    """A micro-batch reads at most `MAX_BYTES_PER_TRIGGER` bytes of spool,
    and at least one file. With the cap below one file, a three-file
    backlog drains in three batches and leaves the same sink rows,
    quarantine rows and catalog totals as the uncapped single batch."""
    import os

    from transit_feed_etl_spark.streaming import ingest

    spool = tmp_path / "spool"
    spool.mkdir()
    for k, ts_iso in enumerate(["2024-03-01T11:59:00", "2024-03-01T12:00:00", "2024-03-01T13:30:00"]):
        _spool_file(spool / f"f{k}.json", "mta", ts_iso, [
            _vehicle_entity(f"v{k}", 40.7 + k / 10, -74.0),
            _vehicle_entity(f"bad{k}", 99.0, 0.0),
            {"id": "x", "vehicle": None},
        ])

    def drain(name):
        d = tmp_path / name
        q, metrics, catalog = start_ingest(
            spark, str(spool), str(d / "out"), str(d / "catalog"), str(d / "ckpt"),
            quarantine_root=str(d / "quarantine"), available_now=True,
        )
        q.awaitTermination(120)

        def keyed(path):
            df = spark.read.parquet(path)
            return sorted(tuple(r) for r in df.select("vehicle_id", F.unix_micros("ts")).collect())

        cat = catalog.read().groupBy("file_path").agg(F.sum("record_count")).collect()
        check = {**metrics.checks[-1]}
        check["latest_file"] = os.path.relpath(check["latest_file"], d)
        return metrics.batches, (
            keyed(str(d / "out")),
            keyed(str(d / "quarantine")),
            sorted((os.path.relpath(p, d), n) for p, n in cat),
            catalog.total_records(),
            metrics.records,
            metrics.quarantined,
            check,
        )

    batches, whole = drain("whole")
    monkeypatch.setattr(ingest, "MAX_BYTES_PER_TRIGGER", 1)
    capped_batches, capped = drain("capped")
    assert (batches, capped_batches) == (1, 3)
    assert capped == whole
    assert whole[3:6] == (3, 3, 3)
    assert whole[-1]["passed"]


def test_ingest_cadence_processing_time_trigger(spark, tmp_path):
    """A23 cadence proof (VERDICT r1 item 9): the ingestion stream runs
    on a real processingTime trigger (scaled 60s -> 1s for test wall
    time; the code path is identical), new spool files are picked up by
    SUBSEQUENT micro-batches, and every batch — flatten, validate,
    partitioned write, catalog append, quality check — completes far
    inside the reference's 60 s per-tick budget
    (gtfs_rt_assets.py:253-257: next cron tick must not overlap)."""
    import time

    spool = tmp_path / "spool_cadence"
    spool.mkdir()
    ent = lambda vid: {  # noqa: E731
        "id": vid,
        "vehicle": {
            "vehicle": {"id": vid},
            "position": {"latitude": 40.7, "longitude": -74.0, "speed": 1.0, "bearing": 0.0},
            "trip": {"trip_id": "t", "route_id": "r"},
            "current_stop_sequence": 1,
            "current_status": 2,
        },
    }
    _spool_file(spool / "b1.json", "mta", "2024-03-01T12:00:00", [ent("v1")])

    q, metrics, catalog = start_ingest(
        spark,
        str(spool),
        str(tmp_path / "cad_out"),
        str(tmp_path / "cad_catalog"),
        str(tmp_path / "cad_ckpt"),
        processing_time="1 second",
    )

    def wait_for(pred, timeout=90.0):
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.25)
        return False

    try:
        # wait on the CHECKS counter: it is the last step of the batch,
        # so records/catalog state are consistent once it advances
        assert wait_for(lambda: len(metrics.checks) >= 1), "first batch never landed"
        batches_after_first = metrics.batches
        # second file arrives AFTER the first batch: a later tick must get it
        _spool_file(spool / "b2.json", "mta", "2024-03-01T12:01:00", [ent("v2")])
        assert wait_for(lambda: len(metrics.checks) >= 2), "second tick never landed"
        assert metrics.batches > batches_after_first
        # per-batch wall time vs the reference's 60 s budget
        exec_ms = [
            p["durationMs"].get("triggerExecution", 0)
            for p in (json.loads(x.json) for x in q.recentProgress)
            if p.get("numInputRows", 0) > 0
        ]
        assert exec_ms, "no non-empty batch progress recorded"
        assert max(exec_ms) < 60_000, f"batch exceeded the 60s budget: {exec_ms}"
        # catalog + quality check ran per non-empty batch and passed
        assert catalog.total_records() == 2
        assert len(metrics.checks) >= 2
        assert all(c["passed"] for c in metrics.checks)
    finally:
        q.stop()


def _stream_events(spark, tmp_path, rows, name):
    src = tmp_path / f"events_src_{name}"
    src.mkdir()
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    return spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_stream(spark, tmp_path):
    t = lambda m, s=0: datetime(2024, 3, 1, 12, m, s)  # noqa: E731
    rows = [
        (1, t(0), 1, "click", 1.0),
        (2, t(2), 1, "click", 2.0),
        (3, t(7), 2, "view", 3.0),
    ]
    agg = windowed_counts(
        _stream_events(spark, tmp_path, rows, "win"), window="5 minutes"
    )
    # complete mode: append would hold back windows the watermark hasn't
    # passed, and a drained availableNow stream never advances it further
    _run_to_memory(agg, "win_out", mode="complete")
    out = {(r["window_start"].minute, r["event_type"]): r["n"] for r in
           spark.sql("SELECT * FROM win_out").collect()}
    assert out == {(0, "click"): 2, (5, "view"): 1}


def test_dedup_within_watermark_stream(spark, tmp_path):
    t = lambda m: datetime(2024, 3, 1, 12, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "click", 1.0),
        (1, t(1), 1, "click", 1.0),  # duplicate event_id within watermark
        (2, t(2), 1, "view", 2.0),
    ]
    dd = dedup_within_watermark(
        _stream_events(spark, tmp_path, rows, "dd"), keys=["event_id"]
    )
    _run_to_memory(dd, "dd_out")
    assert spark.sql("SELECT count(*) AS n FROM dd_out").collect()[0]["n"] == 2


def test_session_windows_stream(spark, tmp_path):
    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    rows = [
        (1, t(12, 0), 7, "click", 1.0),
        (2, t(12, 10), 7, "click", 1.0),   # same session (gap < 30m)
        (3, t(14, 0), 7, "click", 1.0),    # new session
    ]
    sw = session_windows(_stream_events(spark, tmp_path, rows, "sess"), gap="30 minutes")
    _run_to_memory(sw, "sess_out", mode="complete")
    out = sorted(
        (r["session_start"].hour, r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    )
    assert out == [(12, 2), (14, 1)]


def test_stateful_anomaly_operator(spark, tmp_path):
    t = lambda m: datetime(2024, 3, 1, 12, m)  # noqa: E731
    rows = [
        (1, t(0), 1, "click", 1.0),
        (2, t(1), 1, "click", 1.0),
        (3, t(2), 1, "click", 500.0),  # >10x running mean -> anomaly
        (4, t(3), 2, "view", 2.0),
    ]
    st = stateful_anomaly_counts(_stream_events(spark, tmp_path, rows, "anom"))
    _run_to_memory(st, "anom_out", mode="update")
    out = {r["user_id"]: r for r in spark.sql("SELECT * FROM anom_out").collect()}
    assert out[1]["n_anomalies"] >= 1
    assert out[1]["running_total"] == 502.0
    assert out[2]["n_anomalies"] == 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics (Part B streaming rows): after the watermark
    passes a window's end, a late-arriving event for that window is
    DROPPED — append mode emits each finalized window exactly once and
    never revises it. (The reference's cron-lookback A18 recomputes its
    1-hour window every run and would silently absorb late rows; the
    watermark contract makes lateness explicit and state bounded.)"""
    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(rows, mode):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(mode).parquet(str(src))

    # batch 1: window [12:00,12:05) gets one click; 12:30 advances the
    # watermark to 12:20, finalizing and emitting that window
    write_batch([(1, t(12, 0), 1, "click", 1.0), (2, t(12, 30), 1, "view", 1.0)], "overwrite")
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    agg = windowed_counts(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory").queryName("late_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt")).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event_id=3 lands in the already-finalized 12:00 window
        # (late beyond the watermark -> dropped); 12:50 advances the
        # watermark past 12:30's window so it finalizes with n=1
        write_batch([(3, t(12, 2), 1, "click", 1.0), (4, t(12, 50), 1, "click", 1.0)], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r["window_start"].hour, r["window_start"].minute, r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # 12:00 window: n=1 (the late click did NOT bump it to 2);
    # 12:30 window: n=1; 12:50 window: unfinalized, not emitted
    assert out == {(12, 0, "click"): 1, (12, 30, "view"): 1}


def test_sink_format_other_than_geoparquet_raises(tmp_path):
    """The sink writes GeoParquet only: both entry points reject
    `geoparquet=False` before touching Spark or the file system (neither
    a catalog nor a session is given to them here)."""
    from transit_feed_etl_spark.streaming.ingest import make_batch_processor

    with pytest.raises(ValueError, match="GeoParquet only"):
        make_batch_processor(str(tmp_path / "out"), None, geoparquet=False)
    with pytest.raises(ValueError, match="GeoParquet only"):
        start_ingest(
            None, str(tmp_path / "spool"), str(tmp_path / "out"),
            str(tmp_path / "catalog"), str(tmp_path / "ckpt"), geoparquet=False,
        )
    assert list(tmp_path.iterdir()) == []


def test_ingest_stream_geoparquet_mode(spark, tmp_path):
    """geoparquet=True: the streamed output files carry real WKB
    geometry and the GeoParquet 'geo' footer with per-file bbox —
    A12 GeoParquet parity inside the live pipeline."""
    import glob as _glob

    import pyarrow.parquet as pq

    spool = tmp_path / "spool_geo"
    spool.mkdir()
    _spool_file(
        spool / "f.json",
        "mta",
        "2024-03-01T12:00:00",
        [
            {
                "id": "v9",
                "vehicle": {
                    "vehicle": {"id": "v9"},
                    "position": {"latitude": 40.7, "longitude": -74.0,
                                 "speed": 1.0, "bearing": 0.0},
                    "trip": {"trip_id": "t", "route_id": "r"},
                    "current_stop_sequence": 1,
                    "current_status": 2,
                },
            }
        ],
    )
    q, metrics, catalog = start_ingest(
        spark,
        str(spool),
        str(tmp_path / "geo_out"),
        str(tmp_path / "geo_catalog"),
        str(tmp_path / "geo_ckpt"),
        available_now=True,
        geoparquet=True,
    )
    q.awaitTermination(120)
    assert metrics.records == 1
    files = _glob.glob(str(tmp_path / "geo_out") + "/**/*.parquet", recursive=True)
    assert files
    tbl = pq.read_table(files[0])
    geo = json.loads(tbl.schema.metadata[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert geo["columns"]["geometry"]["bbox"] == [-74.0, 40.7, -74.0, 40.7]
    wkb = tbl.to_pandas()["geometry"].iloc[0]
    assert bytes(wkb[:5]) == b"\x01\x01\x00\x00\x00"  # WKB little-endian Point


def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams joined on key + bounded event-time distance:
    purchases within 30 min of a view match; outside the horizon don't."""
    from transit_feed_etl_spark.streaming.windows import stream_stream_interval_join

    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    views = [
        (10, t(12, 0), 1, "view", 1.0),
        (11, t(12, 0), 2, "view", 1.0),
    ]
    purchases = [
        (20, t(12, 10), 1, "purchase", 5.0),   # within 30m of view 10
        (21, t(13, 30), 2, "purchase", 7.0),   # 90m later: outside horizon
    ]
    j = stream_stream_interval_join(
        _stream_events(spark, tmp_path, views, "ssj_v"),
        _stream_events(spark, tmp_path, purchases, "ssj_p"),
    )
    _run_to_memory(j, "ssj_out")
    out = [(r["left_id"], r["right_id"], r["lag_seconds"]) for r in
           spark.sql("SELECT * FROM ssj_out").collect()]
    assert out == [(10, 20, 600)]


def test_ingest_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Restarting the ingest query from its CHECKPOINT processes only the
    files that arrived after the first run — exactly-once per spool file:
    the recovery property that lets a 100 TB ingest crash and resume
    without double-writing or rescanning history."""
    spool = tmp_path / "spool"
    spool.mkdir()
    ent = lambda vid: {  # noqa: E731
        "id": vid,
        "vehicle": {
            "vehicle": {"id": vid},
            "position": {"latitude": 40.0, "longitude": -74.0, "speed": 1.0, "bearing": 0.0},
            "trip": {"trip_id": "t", "route_id": "r"},
            "current_stop_sequence": 1,
            "current_status": 2,
        },
    }
    _spool_file(spool / "a_1.json", "mta", "2024-03-01T12:00:00", [ent("v1")])

    def run_once():
        q, metrics, catalog = start_ingest(
            spark,
            str(spool),
            str(tmp_path / "out"),
            str(tmp_path / "catalog"),
            str(tmp_path / "ckpt"),
            quarantine_root=str(tmp_path / "quarantine"),
            available_now=True,
        )
        q.awaitTermination(120)
        return metrics, catalog

    m1, _ = run_once()
    assert m1.records == 1
    # second file lands while the query is DOWN
    _spool_file(spool / "a_2.json", "mta", "2024-03-01T12:01:00", [ent("v2")])
    m2, catalog = run_once()
    # the restarted run must process ONLY the new file
    assert m2.records == 1, m2.records
    data = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r["vehicle_id"] for r in data.collect())
    assert ids == ["v1", "v2"]  # no duplicates, nothing lost
    assert catalog.total_records() == 2


def test_transform_with_state_quota(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-user admission quota
    holds ACROSS micro-batches (two files -> two batches via
    maxFilesPerTrigger=1; ValueState carries the running totals).

    Capability gate: the transformWithState state-server protocol is
    protobuf-based; without google.protobuf bindings the engine's
    Python driver worker cannot start, so the test skips."""
    pytest.importorskip("google.protobuf.descriptor")
    from transit_feed_etl_spark.streaming.stateful import quota_admission

    t = lambda m: datetime(2024, 3, 1, 12, m)  # noqa: E731
    src = tmp_path / "quota_src"
    src.mkdir()
    b1 = [(i, t(i % 60), 1, "click", 1.0) for i in range(4)]
    b2 = [(100 + i, t(i % 60), 1, "click", 1.0) for i in range(4)] + [
        (200, t(0), 2, "view", 1.0)
    ]
    spark.createDataFrame(b1, EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(b2, EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "f2")
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    _run_to_memory(quota_admission(stream, quota=5), "quota_out", mode="update")
    rows = sorted(
        (r["user_id"], r["batch_seen"], r["batch_admitted"], r["total_admitted"])
        for r in spark.sql("SELECT * FROM quota_out").collect()
    )
    # user 1: batch1 admits all 4; batch2 admits only 1 more (quota 5)
    # user 2: single event admitted
    assert (1, 4, 4, 4) in rows
    assert (1, 4, 1, 5) in rows
    assert (2, 1, 1, 1) in rows


def test_corpus_dedup_across_batches(spark, tmp_path):
    """Historical dedup: a duplicate arriving N batches later must still
    be dropped (state = persistent digest store, not a watermark), the
    first-seen id must survive, and in-batch duplicates collapse to the
    lowest id."""
    import json as _json

    from transit_feed_etl_spark.streaming.corpus_dedup import (
        start_corpus_dedup_stream,
    )

    spool = tmp_path / "spool"
    spool.mkdir()
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def spool_file(name, rows):
        (spool / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    # batch 1: doc 3 and 5 share content -> 3 survives
    spool_file("b1.json", [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 3, "text": "same-content"},
        {"doc_id": 5, "text": "same-content"},
    ])
    q = start_corpus_dedup_stream(spark, str(spool), out, store, ckpt)
    q.awaitTermination(120)

    # batch 2 (separate run, same store): one historical dup, one new
    spool_file("b2.json", [
        {"doc_id": 9, "text": "alpha"},          # dup of batch-1 doc 1
        {"doc_id": 11, "text": "brand-new"},
    ])
    q = start_corpus_dedup_stream(spark, str(spool), out, store, ckpt)
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, "alpha"), (3, "same-content"), (11, "brand-new")}
    # store carries one digest row per appended fresh row
    assert spark.read.parquet(store).distinct().count() == 3


def test_watermark_boundary_event_exactly_at_watermark_is_kept(spark, tmp_path):
    """Boundary exactness pin: after the watermark advances to W, a late
    event with ts == W lands in a window whose END is > W, so the
    window is NOT yet finalized and the event is KEPT; an event one
    window earlier (window end == W) is dropped. This is the precise
    cut users reason about when sizing lateness allowances."""
    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    src = tmp_path / "wmb_src"
    src.mkdir()

    def write_batch(rows, mode):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            mode
        ).parquet(str(src))

    # batch 1: 12:30 sets max event time; watermark -> 12:20
    write_batch([(1, t(12, 30), 1, "view", 1.0)], "overwrite")
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    agg = windowed_counts(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wmb_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wmb_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: ts == watermark (12:20) -> window [12:20, 12:25) is
        # still open -> KEPT; ts 12:19 -> window [12:15, 12:20) whose
        # end == watermark -> finalized -> DROPPED
        write_batch(
            [
                (2, t(12, 20), 1, "click", 1.0),
                (3, t(12, 19), 1, "click", 1.0),
            ],
            "append",
        )
        q.processAllAvailable()
        # batch 3: advance watermark far past everything to flush
        write_batch([(4, t(13, 30), 1, "view", 1.0)], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r["window_start"].hour, r["window_start"].minute, r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM wmb_out").collect()
    }
    assert out.get((12, 20, "click")) == 1  # exactly-at-watermark kept
    assert (12, 15, "click") not in out  # window end == watermark: dropped
    assert out.get((12, 30, "view")) == 1


def test_semdedup_stream_equals_batch_twin(spark, tmp_path):
    """The streaming semantic dedup (streaming/semdedup.py) must emit
    EXACTLY the verdicts of the registered batch twin
    (`semdedup_rounds`, whose oracle proves the from-scratch merge law)
    when fed the same vectors in the same micro-batch order: centroids
    train once on the first batch and freeze (the ensure_centroids rule
    matches the twin's batch-0 modular sample because the test ids are
    dense, so `vec_id % 2 == 0` IS the first spool file), the arrival
    store accumulates across separate stream RUNS (persistent state,
    not a watermark), and a later batch's duplicate of an earlier
    arrival is pruned with the earlier id as keeper."""
    import json as _json

    from transit_feed_etl_spark.operators import vectors as V
    from transit_feed_etl_spark.queries.similarity import semdedup_rounds
    from transit_feed_etl_spark.streaming.semdedup import start_semdedup_stream

    # 12 deterministic 64-d vectors (kmeans_train pins the embeddings
    # table's EMB_DIM=64 contract) in two clear clusters + mild noise;
    # even ids = batch 0 (the training snapshot), odd ids = batch 1.
    def vec(i: int) -> list[float]:
        base = [1.0, 0.0, 0.2, 0.0] if i % 3 else [0.0, 1.0, 0.0, 0.2]
        return [
            round(base[d % 4] + 0.01 * ((i + d) % 5), 6) for d in range(64)
        ]

    rows = [(i, vec(i)) for i in range(12)]
    spool = tmp_path / "spool"
    spool.mkdir()
    out = str(tmp_path / "verdicts")
    store = str(tmp_path / "store")
    cent = str(tmp_path / "centroids")
    ckpt = str(tmp_path / "ckpt")

    def spool_file(name, batch_rows):
        (spool / name).write_text(
            "\n".join(
                _json.dumps({"vec_id": i, "embedding": v})
                for i, v in batch_rows
            )
            + "\n"
        )

    # run 1: batch 0 (even ids) — trains + freezes the centroids
    spool_file("b0.json", [r for r in rows if r[0] % 2 == 0])
    q = start_semdedup_stream(spark, str(spool), out, store, cent, ckpt,
                              n_cells=4)
    q.awaitTermination(120)
    # run 2 (separate stream run, same stores): batch 1 (odd ids)
    spool_file("b1.json", [r for r in rows if r[0] % 2 == 1])
    q = start_semdedup_stream(spark, str(spool), out, store, cent, ckpt,
                              n_cells=4)
    q.awaitTermination(120)

    got = {
        (r["vec_id"], r["cell"], r["keeper_id"], r["max_cos6"])
        for r in spark.read.parquet(out).collect()
    }

    v = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select("vec_id", V.as_double("embedding").alias("v"))
    want_df = semdedup_rounds(v, n_cells=4, k_batches=2)
    want = {
        (r["vec_id"], r["cell"], r["keeper_id"], r["max_cos6"])
        for r in want_df.collect()
    }
    assert got == want and got, (sorted(got), sorted(want))
    # the arrival store holds every arrival (soft precedence state),
    # not just survivors
    assert spark.read.parquet(store).count() == 12


def test_semdedup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once (ADVICE r11): re-running a batch
    whose store write already landed must produce EXACTLY the original
    verdicts — the store read excludes the current batch_id's subpath,
    so the retried batch never pairs with its own failed-attempt copy
    (which would prune every vector against itself at cos 1.0) — and
    the per-batch overwrite leaves the store row count unchanged."""
    from transit_feed_etl_spark.operators import vectors as V
    from transit_feed_etl_spark.streaming.semdedup import (
        semdedup_batch_against_store,
    )

    def vec(i: int) -> list[float]:
        base = [1.0, 0.0, 0.2, 0.0] if i % 3 else [0.0, 1.0, 0.0, 0.2]
        return [
            round(base[d % 4] + 0.01 * ((i + d) % 5), 6) for d in range(64)
        ]

    store = str(tmp_path / "store")
    cent = str(tmp_path / "centroids")
    b0 = spark.createDataFrame(
        [(i, vec(i)) for i in range(0, 12, 2)],
        "vec_id long, embedding array<double>",
    ).select("vec_id", V.as_double("embedding").alias("v"))
    v0 = semdedup_batch_against_store(b0, store, cent, n_cells=4, batch_id=0)
    first = {tuple(r) for r in v0.collect()}
    n_store = spark.read.parquet(store).count()
    assert n_store == 6
    # retry of batch 0: store already holds its rows under batch_id=0
    v0r = semdedup_batch_against_store(b0, store, cent, n_cells=4, batch_id=0)
    retried = {tuple(r) for r in v0r.collect()}
    assert retried == first
    # no vector may be "pruned by itself" on the retry
    assert all(r[0] != r[2] for r in retried)
    assert spark.read.parquet(store).count() == n_store


def test_ensure_centroids_reread_routes_like_the_trained_quantizer(
    spark, tmp_path
):
    """The centroid store round-trips the quantizer: the first call
    trains it and writes its (cid, cv) table, a restart re-reads that
    table, and both calls return the same one-row form (`kmeans_train`'s
    `cands`), which routes every vector to the same cell."""
    from transit_feed_etl_spark.queries.similarity import _assign1
    from transit_feed_etl_spark.streaming.semdedup import ensure_centroids

    bases = ([1.0, 0.0, 0.2, 0.0], [0.0, 1.0, 0.0, 0.2], [0.3, 0.3, 1.0, 0.0])

    def vec(i: int) -> list[float]:
        base = bases[i % 3]
        return [round(base[d % 4] + 0.01 * ((i * 7 + d) % 11), 6) for d in range(64)]

    v = spark.createDataFrame(
        [(i, vec(i)) for i in range(30)], "vec_id long, v array<double>"
    )
    path = str(tmp_path / "centroids")
    trained = ensure_centroids(spark, path, v, n_cells=4)
    reread = ensure_centroids(spark, path, v, n_cells=4)
    assert spark.read.parquet(path).count() == 4
    for q in (trained, reread):
        assert q.columns == ["cands"] and q.count() == 1

    def cells(q):
        return {r["vec_id"]: r["cell"] for r in _assign1(v, q).collect()}

    got = cells(trained)
    assert len(got) == 30 and len(set(got.values())) > 1
    assert cells(reread) == got


def test_corpus_dedup_batch_retry_is_idempotent(spark, tmp_path):
    """Retry of a corpus-dedup batch whose digest write landed must
    re-emit the SAME fresh rows (a plain append store would anti-join
    the batch against its own digests and silently emit zero rows) and
    leave the digest store unchanged."""
    from transit_feed_etl_spark.streaming.corpus_dedup import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, "alpha"), (3, "same-content"), (5, "same-content")],
        "doc_id long, text string",
    )
    fresh = dedup_batch_against_store(b0, store, batch_id=0)
    first = {(r["doc_id"], r["text"]) for r in fresh.collect()}
    assert first == {(1, "alpha"), (3, "same-content")}
    fresh_retry = dedup_batch_against_store(b0, store, batch_id=0)
    assert {(r["doc_id"], r["text"]) for r in fresh_retry.collect()} == first
    assert spark.read.parquet(store).count() == 2
    # and a genuinely NEW batch still dedups against history
    b1 = spark.createDataFrame(
        [(9, "alpha"), (11, "brand-new")], "doc_id long, text string"
    )
    fresh1 = dedup_batch_against_store(b1, store, batch_id=1)
    assert {(r["doc_id"], r["text"]) for r in fresh1.collect()} == {
        (11, "brand-new")
    }
