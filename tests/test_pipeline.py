"""GTFS-pipeline parity tests (SURVEY.md §5 strategy #2/#3: unit tests on
tiny frames covering the reference's cited edge behaviors + end-to-end
flatten -> sink -> catalog -> quality checks)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from transit_feed_etl_spark.pipeline.catalog import FileCatalog
from transit_feed_etl_spark.pipeline.gtfs import (
    RAW_FEED_SCHEMA,
    VEHICLE_POSITION_SCHEMA,
    flatten_feed,
    validate_positions,
    with_time_partitions,
    write_partitioned,
)

TS = datetime(2024, 3, 1, 12, 34, 56)


def _entity(eid, vehicle):
    return {"id": eid, "vehicle": vehicle}


def _vehicle(vid=None, pos=None, trip=None, seq=None, status=None):
    return {
        "vehicle": {"id": vid} if vid else None,
        "position": pos,
        "trip": trip,
        "current_stop_sequence": seq,
        "current_status": status,
    }


@pytest.fixture(scope="module")
def raw_feed(spark):
    rows = [
        {
            "feed_id": "mta_bus",
            "fetch_ts": TS,
            "entity": [
                _entity(
                    "e1",
                    _vehicle(
                        "veh_1",
                        {"latitude": 40.7, "longitude": -74.0, "speed": 5.0, "bearing": 90.0},
                        {"trip_id": "t1", "route_id": "r1"},
                        3,
                        1,
                    ),
                ),
                # non-vehicle entity: must be filtered (A4)
                _entity("e2", None),
                # vehicle present but all sub-structs absent: NULL fields (A5)
                _entity("e3", _vehicle()),
                # position without optional speed/bearing
                _entity(
                    "e4",
                    _vehicle(
                        "veh_2",
                        {"latitude": 41.0, "longitude": -73.5, "speed": None, "bearing": None},
                    ),
                ),
            ],
        },
        {"feed_id": "bart", "fetch_ts": TS, "entity": []},  # empty feed (A10)
    ]
    return spark.createDataFrame(rows, RAW_FEED_SCHEMA)


def test_flatten_filters_and_null_guards(raw_feed):
    flat = flatten_feed(raw_feed)
    rows = {r["vehicle_id"]: r for r in flat.collect()}
    # e2 (no vehicle) and the empty feed contribute nothing
    assert flat.count() == 3
    assert set(flat.columns) == {f.name for f in VEHICLE_POSITION_SCHEMA.fields}
    # fully-populated entity
    r1 = rows["veh_1"]
    assert (r1["latitude"], r1["trip_id"], r1["current_stop_sequence"]) == (40.7, "t1", 3)
    # all-absent sub-structs -> all NULL (A5)
    r3 = rows[None]
    assert r3["latitude"] is None and r3["trip_id"] is None and r3["current_status"] is None
    # partial position
    r4 = rows["veh_2"]
    assert r4["latitude"] == 41.0 and r4["speed"] is None


def test_geometry_null_when_coords_missing(raw_feed):
    from transit_feed_etl_spark.pipeline.geoparquet import read_wkb_points, wkb_point

    geo = flatten_feed(raw_feed).withColumn("geometry", wkb_point("longitude", "latitude"))
    rows = {r["vehicle_id"]: r for r in geo.collect()}
    point = rows["veh_1"]["geometry"]
    assert len(point) == 21  # WKB point: byte order, type, x, y
    assert read_wkb_points([point]).iloc[0].tolist() == [-74.0, 40.7]
    assert rows[None]["geometry"] is None  # A11 null-guard


def test_validate_positions_quarantine(spark):
    rows = [
        ("f", TS, "ok", 40.0, -74.0, None, None, None, None, None, None),
        ("f", TS, "bad_lat", 95.0, -74.0, None, None, None, None, None, None),
        ("f", TS, "bad_lon", 40.0, -200.0, None, None, None, None, None, None),
        ("f", TS, "null_ok", None, None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, VEHICLE_POSITION_SCHEMA)
    good, bad = validate_positions(df)
    assert {r["vehicle_id"] for r in good.collect()} == {"ok", "null_ok"}
    assert {r["vehicle_id"] for r in bad.collect()} == {"bad_lat", "bad_lon"}


def test_partitioned_sink_and_pruning(spark, tmp_path):
    df = with_time_partitions(
        spark.createDataFrame(
            [
                ("f", datetime(2024, 3, 1, 12, 0, 1), "a", 40.0, -74.0, 1.0, 0.0, None, None, None, None),
                ("f", datetime(2024, 3, 1, 13, 0, 2), "b", 41.0, -73.0, 2.0, 0.0, None, None, None, None),
            ],
            VEHICLE_POSITION_SCHEMA,
        )
    )
    root = str(tmp_path / "positions")
    write_partitioned(df, root)
    back = spark.read.parquet(root)
    assert back.count() == 2
    # partition pruning: an hour filter must prune to a single partition
    pruned = back.filter((F.col("hour") == 12) & (F.col("day") == 1))
    assert pruned.count() == 1
    plan = pruned.explain(mode="formatted") or ""
    assert [r["vehicle_id"] for r in pruned.collect()] == ["a"]


def test_catalog_roundtrip_and_checks(spark, tmp_path):
    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    assert cat.total_records() == 0  # empty-catalog DDL parity (A13)

    batch = with_time_partitions(
        spark.createDataFrame(
            [
                ("f", datetime(2024, 3, 1, 12, 0, 1), "a", 40.0, -74.0, None, None, None, None, None, None),
                ("f", datetime(2024, 3, 1, 12, 30, 2), "b", 41.0, -73.0, None, None, None, None, None, None),
            ],
            VEHICLE_POSITION_SCHEMA,
        )
    )
    root = str(tmp_path / "data")
    write_partitioned(batch, root)
    part_path = f"{root}/year=2024/month=3/day=1/hour=12"
    cat.append_batch(batch, batch_id=0, file_path=part_path)

    assert cat.total_records() == 2  # A17
    assert cat.recent_records(1) == 2  # A18 (anchored on max ts)
    latest = cat.latest_file()  # A19
    assert latest["file_path"] == part_path
    assert cat.missing_files().count() == 0  # A20
    check = cat.check_not_empty()  # A21
    assert check["passed"] and check["total_records"] == 2

    # bbox row: A14 values
    row = cat.read().collect()[0]
    assert (row["bbox_minx"], row["bbox_maxy"]) == (-74.0, 41.0)

    # NULL-bbox batch (all coords null) — reference :169-170
    null_batch = with_time_partitions(
        spark.createDataFrame(
            [("f", datetime(2024, 3, 1, 14, 0, 1), "c", None, None, None, None, None, None, None, None)],
            VEHICLE_POSITION_SCHEMA,
        )
    )
    write_partitioned(null_batch, root)
    cat.append_batch(null_batch, 1, f"{root}/year=2024/month=3/day=1/hour=14")
    null_row = [r for r in cat.read().collect() if r["batch_id"] == 1][0]
    assert null_row["bbox_minx"] is None and null_row["record_count"] == 1

    # bbox pruning: query box intersecting only batch 0's box; the
    # NULL-bbox file must be KEPT (unknown extent)
    files = cat.prune_files(-75.0, 39.0, -73.9, 40.5)
    assert part_path in files and len(files) == 2

    # catalog-vs-fs consistency: fabricate a missing file row (A20)
    cat.append_batch(batch, 2, str(tmp_path / "nonexistent"))
    missing = cat.missing_files().collect()
    assert len(missing) == 1 and missing[0]["batch_id"] == 2

    # pruned scan + residual filter
    df = cat.read_bbox(-75.0, 39.0, -73.9, 40.5)
    assert [r["vehicle_id"] for r in df.collect()] == ["a"]


def test_check_not_empty_matches_the_three_queries(spark, tmp_path):
    """check_not_empty answers from one catalog read what total_records,
    recent_records and latest_file answer from three: same values on an
    empty catalog and on a multi-batch catalog spanning hours."""
    cat = FileCatalog(spark, str(tmp_path / "catalog"))

    def parity(lookback):
        got = cat.check_not_empty(lookback)
        latest = cat.latest_file()
        assert got["total_records"] == cat.total_records()
        assert got["recent_records"] == cat.recent_records(lookback)
        assert got["latest_file"] == (latest["file_path"] if latest else None)
        return got

    empty = parity(1)
    assert empty == {
        "passed": False, "total_records": 0, "recent_records": 0,
        "latest_file": None, "latest_file_exists": False,
    }

    # batch 1 spans two hours; batch 3 repeats batch 2's latest ts in
    # another sink, so only the batch_id tie-break picks the latest file
    batches = {
        1: [datetime(2024, 3, 1, 11, 10), datetime(2024, 3, 1, 12, 50)],
        2: [datetime(2024, 3, 1, 13, 5), datetime(2024, 3, 1, 14, 0)],
        3: [datetime(2024, 3, 1, 14, 0)],
    }
    for batch_id, stamps in batches.items():
        df = with_time_partitions(
            spark.createDataFrame(
                [("f", t, f"v{i}", 40.0 + i, -74.0, None, None, None, None, None, None)
                 for i, t in enumerate(stamps)],
                VEHICLE_POSITION_SCHEMA,
            )
        )
        root = str(tmp_path / ("other" if batch_id == 3 else "data"))
        write_partitioned(df, root)
        cat.append_batch_partitions(df, batch_id, root)
        for lookback in (1, 2, 3):
            got = parity(lookback)
            assert got["passed"] and got["latest_file_exists"]
    got = cat.check_not_empty(1)
    assert got["recent_records"] == 3  # 13:05 and both 14:00 rows
    assert got["total_records"] == 5
    assert got["latest_file"].startswith(str(tmp_path / "other"))


def test_compaction_bounds_files_per_partition(spark, tmp_path):
    """Small-files compaction (§4 scale requirement): many per-minute
    files collapse to <= target_files per hour partition, preserving
    every row."""
    from transit_feed_etl_spark.pipeline.gtfs import compact_partitions

    rows = [
        ("f", datetime(2024, 3, 1, 12, m, 0), f"v{m}", 40.0 + m, -74.0, 1.0, 0.0,
         None, None, None, None)
        for m in range(12)
    ]
    df = with_time_partitions(spark.createDataFrame(rows, VEHICLE_POSITION_SCHEMA))
    root = str(tmp_path / "many")
    # simulate the reference's one-file-per-minute pattern: 12 writes
    for m in range(12):
        write_partitioned(df.filter(F.minute("ts") == m), root)
    files_before = [
        p for p in (tmp_path / "many").rglob("*.parquet") if p.is_file()
    ]
    assert len(files_before) >= 12
    compact_partitions(spark, root, target_files=2)
    out = tmp_path / "many_compacted"
    per_hour: dict[str, int] = {}
    for p in out.rglob("*.parquet"):
        if p.is_file():
            per_hour[str(p.parent)] = per_hour.get(str(p.parent), 0) + 1
    assert per_hour and all(1 <= n <= 2 for n in per_hour.values()), per_hour
    back = spark.read.parquet(str(out))
    assert back.count() == 12
    assert {r["vehicle_id"] for r in back.collect()} == {f"v{m}" for m in range(12)}


def test_catalog_snapshot_time_travel(spark, tmp_path):
    """Time travel on plain parquet via the append-only catalog: a
    snapshot as of batch 1 sees only batch-1 files, even though batch-2
    files share the directory tree; the history view counts cumulative
    records per snapshot."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from pyspark.sql import functions as F

    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    for batch_id, vals in ((1, [(1, "v1")]), (2, [(2, "v2"), (3, "v3")])):
        p = str(tmp_path / f"data/batch_{batch_id}.parquet")
        df = spark.createDataFrame(vals, ["k", "vehicle_id"]).select(
            "k",
            "vehicle_id",
            F.lit(0.0).alias("longitude"),
            F.lit(0.0).alias("latitude"),
            F.current_timestamp().alias("ts"),
        )
        df.write.parquet(p)
        cat.append_batch(df, batch_id=batch_id, file_path=p)

    snap1 = cat.read_snapshot(1)
    assert {r["vehicle_id"] for r in snap1.collect()} == {"v1"}
    snap2 = cat.read_snapshot(2)
    assert {r["vehicle_id"] for r in snap2.collect()} == {"v1", "v2", "v3"}
    assert cat.read_snapshot(0) is None
    hist = {r["batch_id"]: r["cumulative_records"]
            for r in cat.snapshot_record_counts().collect()}
    assert hist == {1: 1, 2: 3}


def test_catalog_vacuum_dry_run_lists_orphans(spark, tmp_path):
    """Orphan detection: a parquet file on disk with no catalog row is a
    vacuum candidate; referenced files are never listed."""
    from transit_feed_etl_spark.pipeline.catalog import FileCatalog
    from pyspark.sql import functions as F

    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    data_root = tmp_path / "data"
    good = str(data_root / "good.parquet")
    df = spark.createDataFrame([(1, "v1")], ["k", "vehicle_id"]).select(
        "k", "vehicle_id",
        F.lit(0.0).alias("longitude"), F.lit(0.0).alias("latitude"),
        F.current_timestamp().alias("ts"),
    )
    df.write.parquet(good)
    cat.append_batch(df, batch_id=1, file_path=good)
    df.write.parquet(str(data_root / "orphan.parquet"))  # never cataloged

    orphans = cat.unreferenced_files(str(data_root))
    assert orphans and all("orphan.parquet" in p for p in orphans), orphans


def test_catalog_consistency_checks_never_collect_catalog(spark, tmp_path):
    """VERDICT r2 item 7: the catalog<->fs consistency checks must run
    as distributed anti-joins — the catalog's file list must NOT be
    collected to the driver to build the probe side. A collected probe
    side shows up as a LocalTableScan/LocalRelation in the plan; the
    distributed probe shows up as MapInPandas."""
    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    good = str(tmp_path / "data" / "good.parquet")
    df = spark.createDataFrame([(1, "v1")], ["k", "vehicle_id"]).select(
        "k", "vehicle_id",
        F.lit(0.0).alias("longitude"), F.lit(0.0).alias("latitude"),
        F.current_timestamp().alias("ts"),
    )
    df.write.parquet(good)
    cat.append_batch(df, batch_id=1, file_path=good)
    cat.append_batch(df, batch_id=2, file_path=str(tmp_path / "gone.parquet"))

    missing = cat.missing_files()
    plan = missing._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "LocalRelation" not in plan and "LocalTableScan" not in plan, plan
    rows = missing.collect()
    assert len(rows) == 1 and rows[0]["batch_id"] == 2

    # vacuum dry-run: referenced-side expansion is likewise distributed
    orphan = str(tmp_path / "data" / "orphan.parquet")
    df.write.parquet(orphan)
    orphans = cat.unreferenced_files(str(tmp_path / "data"))
    assert orphans and all("orphan.parquet" in p for p in orphans), orphans


def test_existence_probe_rejects_nonlocal_uris(spark, tmp_path):
    """VERDICT r4 item 3: a catalog holding s3://... URIs must fail
    LOUDLY — os.path.exists would silently report every file missing on
    a cluster without local mounts, corrupting missing_files and
    check_not_empty instead of erroring."""
    from transit_feed_etl_spark.pipeline.catalog import _require_local

    # unit surface: local paths pass through, file:// strips, others raise
    assert _require_local("/x/y.parquet") == "/x/y.parquet"
    assert _require_local("file:///x/y.parquet") == "/x/y.parquet"
    # RFC-8089 authority forms: local hosts resolve, remote hosts raise
    # (stripping the host would yield a cwd-relative path — the silent-
    # missing corruption this guard exists to prevent)
    assert _require_local("file://localhost/x/y.parquet") == "/x/y.parquet"
    assert _require_local("file://127.0.0.1/x/y.parquet") == "/x/y.parquet"
    # percent-encoded file:// URIs (Hadoop emits these for spaces and
    # special chars) must decode before os.path stats them, or the file
    # silently reads as missing (ADVICE r5)
    assert _require_local("file:///a%20b/c%2Bd.parquet") == "/a b/c+d.parquet"
    assert _require_local("file://localhost/a%20b.parquet") == "/a b.parquet"
    # plain paths are NOT URIs: a literal %20 directory must pass through
    assert _require_local("/a%20b.parquet") == "/a%20b.parquet"
    with pytest.raises(ValueError, match="authority"):
        _require_local("file://nfs-host/x/y.parquet")
    for uri in ("s3://bkt/k.parquet", "hdfs://nn/k.parquet", "abfss://c@a/k"):
        with pytest.raises(ValueError, match="non-local URI"):
            _require_local(uri)

    # end-to-end: the executor-side probe surfaces the same loud error
    cat = FileCatalog(spark, str(tmp_path / "catalog"))
    df = spark.range(1).select(
        F.lit("k").alias("k"),
        F.lit("v").alias("vehicle_id"),
        F.lit(0.0).alias("longitude"),
        F.lit(0.0).alias("latitude"),
        F.current_timestamp().alias("ts"),
    )
    cat.append_batch(df, batch_id=1, file_path="s3://bucket/part-0.parquet")
    with pytest.raises(Exception, match="non-local URI"):
        cat.missing_files().collect()
    with pytest.raises(Exception, match="non-local URI"):
        cat.check_not_empty()


def _us(t: datetime) -> int:
    """Epoch microseconds of a naive UTC datetime."""
    return int(t.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _driver_row(file_path, t, n, bbox=(-74.0, 40.0, -73.0, 41.0)):
    return dict(zip(
        ("file_path", "ts_us", "record_count", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"),
        (file_path, _us(t), n, *bbox),
    ))


def _check_parity(cat, lookbacks=(1, 2, 3)):
    for lookback in lookbacks:
        got = cat.check_not_empty(lookback)
        latest = cat.latest_file()
        assert got["total_records"] == cat.total_records()
        assert got["recent_records"] == cat.recent_records(lookback)
        assert got["latest_file"] == (latest["file_path"] if latest else None)


def test_mixed_spark_and_driver_catalog_agree(spark, tmp_path):
    """A catalog holding files Spark wrote (INT96 ts, the earlier write
    path) and files `commit_rows` wrote (INT64 UTC microseconds) reads
    back the same instants in `read()`, and the driver-side check agrees
    with the three Spark queries on it."""
    import glob

    import pyarrow.parquet as pq
    from transit_feed_etl_spark.pipeline.catalog import CATALOG_SCHEMA

    path = str(tmp_path / "catalog")
    parts = {h: tmp_path / "data" / f"hour={h}" for h in (11, 12, 13)}
    for p in parts.values():
        p.mkdir(parents=True)
    t = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    made = t(14, 0)
    spark.createDataFrame(
        [
            (1, str(parts[11]), t(11, 50), 2, made, -74.0, 40.0, -73.5, 40.5),
            (2, str(parts[12]), t(12, 30), 3, made, None, None, None, None),
        ],
        CATALOG_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)
    (spark_file,) = glob.glob(path + "/*.parquet")
    ts_col = pq.ParquetFile(spark_file).schema.column(2)
    assert (ts_col.name, ts_col.physical_type) == ("ts", "INT96")

    cat = FileCatalog(spark, path)
    # batch 3 ties batch 2's ts: the batch_id tie-break picks hour 13
    cat.commit_rows(3, [_driver_row(str(parts[13]), t(12, 30), 4)])
    cat.commit_rows(4, [_driver_row(str(parts[11]), t(11, 0), 1, (None,) * 4)])

    got = sorted(
        tuple(r)
        for r in cat.read()
        .select("batch_id", "file_path", F.unix_micros("ts"), "record_count",
                "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
        .collect()
    )
    assert got == [
        (1, str(parts[11]), _us(t(11, 50)), 2, -74.0, 40.0, -73.5, 40.5),
        (2, str(parts[12]), _us(t(12, 30)), 3, None, None, None, None),
        (3, str(parts[13]), _us(t(12, 30)), 4, -74.0, 40.0, -73.0, 41.0),
        (4, str(parts[11]), _us(t(11, 0)), 1, None, None, None, None),
    ]
    _check_parity(cat)
    check = cat.check_not_empty(1)
    assert (check["total_records"], check["recent_records"]) == (10, 9)
    assert check["latest_file"] == str(parts[13]) and check["passed"]


def test_check_reads_only_files_it_has_not_seen(spark, tmp_path, monkeypatch):
    """Catalog files are immutable, so a check reads each file once per
    catalog instance: after one commit the next check reads that one
    file. A fresh instance (a restarted query) reads them all and gives
    the same answer."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "catalog")
    data = tmp_path / "data"
    data.mkdir()
    cat = FileCatalog(spark, path)
    for b in range(3):
        cat.commit_rows(b, [_driver_row(str(data), datetime(2024, 3, 1, 12, b), 1)])

    reads = []
    real = pq.read_table

    def counting(src, *a, **k):
        reads.append(src)
        return real(src, *a, **k)

    monkeypatch.setattr(pq, "read_table", counting)

    def reads_of(check):
        reads.clear()
        out = check()
        return out, len(reads)

    first, n = reads_of(cat.check_not_empty)
    assert n == 3 and first["total_records"] == 3
    assert reads_of(cat.check_not_empty) == (first, 0)
    cat.commit_rows(3, [_driver_row(str(data), datetime(2024, 3, 1, 12, 3), 5)])
    second, n = reads_of(cat.check_not_empty)
    assert n == 1 and second["total_records"] == 8 and second["passed"]
    assert reads_of(FileCatalog(spark, path).check_not_empty) == (second, 4)
    monkeypatch.undo()
    _check_parity(cat, (1,))


def test_leftover_temp_file_is_ignored(spark, tmp_path):
    """A commit that died before its rename leaves a hidden temp file;
    neither `read()` nor the check counts it."""
    path = tmp_path / "catalog"
    data = tmp_path / "data"
    data.mkdir()
    cat = FileCatalog(spark, str(path))
    cat.commit_rows(0, [_driver_row(str(data), datetime(2024, 3, 1, 12, 0), 2)])
    (committed,) = path.iterdir()
    # a whole file under the temp name, and a torn one
    (path / f".{committed.name}.tmp").write_bytes(committed.read_bytes())
    (path / ".part-00001-torn.parquet.tmp").write_bytes(committed.read_bytes()[:20])

    assert cat.read().count() == 1
    assert cat.check_not_empty()["total_records"] == 2
    assert FileCatalog(spark, str(path)).check_not_empty()["total_records"] == 2
    _check_parity(cat, (1,))

    committed.unlink()  # only temp files left: an empty catalog
    assert cat.read().count() == 0
    assert not cat.check_not_empty()["passed"]
