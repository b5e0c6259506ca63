"""The four benchmark workloads, their output checks and their metrics.

Each workload class has ``setup()`` (input generation, oracle, warm-up;
untimed) and ``measure(seconds)`` (the timed window), and fills a
``Run``: every operation it attempts (tick, backfill batch or query
execution) is checked outside the timed window, and an operation that
raised or failed its check counts in ``failed``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import inputs

# ---- query lists ------------------------------------------------------------------

# Scan, Catalyst and exchange/join work in short relational queries: no
# eager builder work and no Python UDF (the bypass for corpus-side changes).
SQL_QUERIES = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q21_waiting_suppliers",
    "q17_small_quantity_revenue",
    "join_revenue_by_nation",
    "left_join_order_counts",
    "scalar_subquery_above_avg_price",
    "topk_orders",
    "latest_event_per_user",
    "running_user_totals",
    "tumbling_hourly_rollup",
    "equidepth_deciles",
    "asof_join_purchase_before_view",
    "point_in_time_state_join",
    "variant_typed_extraction",
    "merge_upsert_customer_balance",
    "incremental_agg_merge",
)

# Corpus-curation queries: eager builder work (persist, localCheckpoint,
# convergence counts) and iterative operators; none runs a Python UDF.
CORPUS_QUERIES = (
    "semdedup_prune",
    "minhash_lsh_candidates",
    "quality_filter_verdicts",
    "html_boilerplate_extract",
    "dedup_exact",
)

SF = 0.01
# untimed passes before the window: the first is cold (JVM, codegen,
# Python workers); query times still fall through the second
WARMUP_PASSES = 2


@dataclass
class Run:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    report: dict[str, float] = field(default_factory=dict)  # every metric by its own name
    e2e: dict[str, float] = field(default_factory=dict)  # BENCHMARK.json names
    layers: dict[str, float] = field(default_factory=dict)
    overhead: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest nearest-rank percentile with at
    least ten samples beyond it; None below eleven samples."""
    n = len(xs)
    if n <= 10:
        return None
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


def spark_layers(tracer, c: dict, gc0: int) -> dict[str, float]:
    """Scheduler, exchange and JVM layer counts of one traced operation
    from its ``Tracer.spark_counts`` and the GC time before it."""
    return {
        "scheduler.stages": c["stages"],
        "scheduler.tasks": c["tasks"],
        "scheduler.task_run_s": c["task_run_ms"] / 1000,
        "exchange.shuffle_stages": c["shuffle_stages"],
        "exchange.shuffle_write_bytes": c["shuffle_write_bytes"],
        "exchange.shuffle_write_records": c["shuffle_write_records"],
        "jvm.gc_s": (tracer.gc_ms() - gc0) / 1000,
    }


# ---- query workloads ----------------------------------------------------------------


class Collected:
    """Collected rows presented to ``oracle_utils.compare`` the way a
    DataFrame would be (it only calls ``toPandas``)."""

    def __init__(self, rows, columns):
        self.rows, self.columns = rows, columns

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame.from_records(
            [tuple(r) for r in self.rows], columns=self.columns
        )


def corrupt(rows: list) -> list:
    """One result row's first value changed (the check must catch it)."""
    from pyspark.sql import Row

    r = rows[0].asDict()
    k = next(iter(r))
    v = r[k]
    r[k] = (v + 1) if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}!"
    return [Row(**r)] + rows[1:]


class QueryWorkload:
    def __init__(self, spark, work: str, seed: int, names: tuple[str, ...], tracer=None):
        from transit_feed_etl_spark.queries import QUERIES

        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.queries = [QUERIES[n] for n in names]
        self.sf_dir = os.path.join(work, "data")
        self.oracle: dict = {}
        self.run = Run()
        self.units: list[dict] = []
        self.fault = None  # self-test hook: fn(name, rows) -> rows
        self.proven = False

    def setup(self) -> None:
        import oracle_utils

        t0 = time.perf_counter()
        inputs.write_tables(inputs.make_tables(self.seed, SF), self.sf_dir)
        for q in self.queries:
            self.oracle[q.name] = oracle_utils.run_oracle(q.oracle, self.sf_dir)
        self.run.setup["generate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.one_pass(timed=False)
        self.run.setup["warmup_s"] = time.perf_counter() - t0

    @staticmethod
    def prove_check_can_fail(rows, cols, oracle) -> None:
        """The comparator must reject a changed value and a missing row."""
        import oracle_utils

        if not oracle_utils.compare(Collected(corrupt(rows), cols), oracle):
            raise RuntimeError("output check accepted a corrupted row")
        if not oracle_utils.compare(Collected(rows[1:], cols), oracle):
            raise RuntimeError("output check accepted a dropped row")

    def one_pass(self, timed: bool, traced: bool = False) -> float:
        total = 0.0
        for q in self.queries:
            total += self.execute(q, timed, traced)
        return total

    def execute(self, q, timed: bool, traced: bool) -> float:
        tr = self.tracer
        unit = {"query": q.name, "timed": timed, "traced": traced}
        rows, cols, df = None, None, None
        gc0 = tr.gc_ms() if traced else 0
        persisted = 0
        t0 = time.perf_counter()
        try:
            if traced:
                tr.active = True
                trace_id = f"{q.name}@{len(self.units)}"
                with tr.span("query", trace_id):
                    with tr.span("query.build"):
                        df = q.builder(self.spark, self.sf_dir)
                    persisted = tr.persisted_rdds()
                    rows = df.collect()
            else:
                df = q.builder(self.spark, self.sf_dir)
                rows = df.collect()
            cols = df.columns
        except Exception as e:  # a failed execution is counted, not fatal
            unit["error"] = f"{type(e).__name__}: {e}"
        finally:
            wall = time.perf_counter() - t0
            if tr:
                tr.active = False
        unit["wall_s"] = wall
        if traced and df is not None:
            unit.update(self._layer_counts(trace_id, df, wall, gc0, persisted))
        self.spark.catalog.clearCache()
        self.run.attempted += 1
        if "error" in unit:
            self.run.fail(f"{q.name}: {unit['error']}")
        else:
            import oracle_utils

            if not timed and len(rows) > 1 and not self.proven:
                self.prove_check_can_fail(rows, cols, self.oracle[q.name])
                self.proven = True
            if self.fault:
                rows = self.fault(q.name, rows)
            probs = oracle_utils.compare(Collected(rows, cols), self.oracle[q.name])
            if probs:
                unit["error"] = probs[0]
                self.run.fail(f"{q.name}: {probs[0]}")
        self.units.append(unit)
        return wall

    def _layer_counts(self, trace_id, df, wall, gc0, persisted) -> dict:
        tr = self.tracer
        build = tr.spark_counts(tr.groups_of(trace_id, ("query.build",)))
        action = tr.spark_counts(tr.groups_of(trace_id, ("query.action",)))
        everything = tr.spark_counts(tr.groups_of(trace_id))
        cat = tr.catalyst_ms(df)
        cores = self.spark.sparkContext.defaultParallelism
        out = {
            "query.build_s": tr.seconds(trace_id, "query.build"),
            "query.build_jobs": build["jobs"],
            "cache.persisted_rdds": persisted,
            "query.action_s": tr.seconds(trace_id, "query.action"),
            "query.action_jobs": action["jobs"],
            "catalyst.analysis_s": cat.get("analysis", 0.0) / 1000,
            "catalyst.optimization_s": cat.get("optimization", 0.0) / 1000,
            "catalyst.planning_s": cat.get("planning", 0.0) / 1000,
            "scheduler.busy_frac": everything["task_run_ms"] / 1000 / (wall * cores),
        }
        out.update(spark_layers(tr, everything, gc0))
        out.update(tr.join_counts(df))
        return out

    def measure(self, seconds: float, traced: bool) -> None:
        start = time.perf_counter()
        passes: list[float] = []
        flags: list[bool] = []
        # whole passes while the window lasts; a traced run alternates
        # untraced and traced passes, starting and ending untraced, so
        # warm-up drift does not count as tracing overhead
        while (
            len(passes) < (3 if traced else 2)
            or time.perf_counter() - start < seconds
            or (traced and len(passes) % 2 == 0)
        ):
            t = traced and len(passes) % 2 == 1
            passes.append(self.one_pass(timed=True, traced=t))
            flags.append(t)
        timed = [u for u in self.units if u["timed"]]
        plain = [u["wall_s"] for u in timed if not u["traced"]] or [u["wall_s"] for u in timed]
        plain_passes = [p for p, f in zip(passes, flags) if not f] or passes
        r = self.run
        r.report["query_pass_s"] = statistics.median(plain_passes)
        r.report["query_geomean_s"] = geomean(plain)
        r.report["passes"] = len(passes)
        r.e2e["op_p50_s"] = r.report["query_pass_s"]
        r.e2e["op_geomean_s"] = r.report["query_geomean_s"]
        if traced:
            tp = [p for p, f in zip(passes, flags) if f]
            r.overhead["op_p50_s"] = statistics.median(tp) - statistics.median(plain_passes)
            r.overhead["op_geomean_s"] = geomean(
                [u["wall_s"] for u in timed if u["traced"]]
            ) - geomean(plain)
            n_traced_passes = len(tp)
            sums: dict[str, float] = defaultdict(float)
            for u in timed:
                if u["traced"]:
                    for k, v in u.items():
                        if isinstance(v, (int, float)) and "." in k:
                            sums[k] += v / n_traced_passes
            wall_traced = sum(tp) / n_traced_passes
            cores = self.spark.sparkContext.defaultParallelism
            sums["scheduler.busy_frac"] = sums["scheduler.task_run_s"] / (wall_traced * cores)
            r.layers.update(sums)


# ---- ingest workloads ----------------------------------------------------------------

def _sink_frames(spark, out_root: str, quarantine_root: str, catalog):
    import pandas as pd

    import pyarrow.dataset as ds

    # pyarrow, as a GeoParquet reader would: the footer rewrite leaves
    # Spark's .crc side files stale, so Spark's own reader rejects them
    sink = (
        ds.dataset(out_root, format="parquet", partitioning="hive")
        .to_table()
        .drop_columns(["geometry", "crs"])
        .to_pandas()
    )
    quar = (
        spark.read.parquet(quarantine_root).toPandas()
        if os.path.exists(quarantine_root)
        else pd.DataFrame(columns=["ts"])
    )
    cat = catalog.read().toPandas()
    return sink, quar, cat


ROW_COLS = [
    "feed_id",
    "vehicle_id",
    "latitude",
    "longitude",
    "speed",
    "bearing",
    "trip_id",
    "route_id",
    "current_stop_sequence",
    "current_status",
]


def _row_key(vals) -> tuple:
    return tuple(
        None if (v is None or (isinstance(v, float) and math.isnan(v))) else v for v in vals
    )


class IngestChecker:
    """Expected sink, quarantine and catalog contents, per operation
    (tick or batch), accumulated from the generator's entities."""

    def __init__(self, f32: bool):
        self.f32 = f32
        self.expected: dict[dt.datetime, dict] = {}  # fetch ts -> expectations
        self.op_of_ts: dict[dt.datetime, int] = {}

    def _val(self, x):
        import numpy as np

        return None if x is None else (float(np.float32(x)) if self.f32 else x)

    def add(self, op: int, feed_id: str, ts: dt.datetime, ents: list[inputs.Entity]) -> None:
        key = ts.replace(tzinfo=None)
        e = self.expected.setdefault(key, {"good": [], "bad": []})
        self.op_of_ts[key] = op
        for x in ents:
            if not x.is_vehicle:
                continue
            has_pos = x.lat is not None
            row = _row_key(
                (
                    feed_id,
                    x.vehicle_id,
                    self._val(x.lat),
                    self._val(x.lon),
                    self._val(x.speed) if has_pos else None,
                    self._val(x.bearing) if has_pos else None,
                    x.trip_id,
                    x.route_id,
                    x.stop_sequence,
                    x.status,
                )
            )
            (e["bad"] if x.bad else e["good"]).append(row)

    def check(self, out_root, quarantine_root, catalog, checks) -> dict[int, str]:
        """Compare the sink, quarantine and catalog with the expectations;
        return {operation: first finding} for each operation whose output
        differs (-1 for findings about the output as a whole)."""
        import pyarrow.parquet as pq

        sink, quar, cat = _sink_frames(catalog.spark, out_root, quarantine_root, catalog)
        bad_ops: dict[int, str] = {}

        def flag(op, why):
            bad_ops.setdefault(op, why)

        def by_ts(df):
            out = defaultdict(list)
            if len(df):
                for ts, vals in zip(df["ts"], df[ROW_COLS].itertuples(index=False)):
                    out[ts.to_pydatetime()].append(_row_key(vals))
            return out

        got_good, got_bad = by_ts(sink), by_ts(quar)
        for ts in set(got_good) | set(got_bad):
            if ts not in self.expected:
                flag(-1, f"rows at unexpected ts {ts}")
        for ts, exp in self.expected.items():
            op = self.op_of_ts[ts]
            g = got_good.get(ts, [])
            if sorted(g, key=repr) != sorted(exp["good"], key=repr):
                flag(op, f"sink rows at {ts}: {len(g)} vs {len(exp['good'])} expected")
            keys = [(r[0], r[1]) for r in g if r[1] is not None]
            if len(keys) != len(set(keys)):
                flag(op, f"duplicate (feed_id, vehicle_id, ts) at {ts}")
            b = got_bad.get(ts, [])
            if sorted(b, key=repr) != sorted(exp["bad"], key=repr):
                flag(op, f"quarantine rows at {ts}: {len(b)} vs {len(exp['bad'])}")
        # hour partitions: every sink row sits in the partition of its ts
        if len(sink):
            ts = sink["ts"]
            wrong = (
                (sink["year"] != ts.dt.year)
                | (sink["month"] != ts.dt.month)
                | (sink["day"] != ts.dt.day)
                | (sink["hour"] != ts.dt.hour)
            )
            for t in set(ts[wrong]):
                flag(self.op_of_ts.get(t.to_pydatetime(), -1), f"row of {t} in wrong partition")
        hours = {
            (t.year, t.month, t.day, t.hour) for t, e in self.expected.items() if e["good"]
        }
        on_disk = set()
        for root, _, files in os.walk(out_root):
            parts = dict(p.split("=") for p in root[len(out_root):].split(os.sep) if "=" in p)
            if any(f.endswith(".parquet") for f in files):
                on_disk.add(tuple(int(parts[k]) for k in ("year", "month", "day", "hour")))
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    path = os.path.join(root, f)
                    md = pq.read_metadata(path)
                    if b"geo" not in (md.metadata or {}):
                        t = pq.read_table(path, columns=["ts"])["ts"][0].as_py()
                        flag(self.op_of_ts.get(t, -1), f"no geo footer on {path}")
        if on_disk != hours:
            flag(-1, f"hour partitions {sorted(on_disk ^ hours)[:3]} differ")
        # catalog: one row per (operation, hour partition) with exact bbox
        exp_cat: dict[tuple, list] = defaultdict(list)
        cat_ts: dict[tuple, dt.datetime] = {}  # the row's ts: latest in it
        for t, e in self.expected.items():
            if e["good"]:
                k = (self.op_of_ts[t], (t.year, t.month, t.day, t.hour))
                exp_cat[k].extend(e["good"])
                cat_ts[k] = max(t, cat_ts.get(k, t))
        got_cat = {}
        for r in cat.itertuples(index=False):
            hour = tuple(
                int(p.split("=")[1]) for p in r.file_path.split(os.sep)[-4:]
            )
            key = (self.op_of_ts.get(r.ts.to_pydatetime(), -1), hour)
            if key in got_cat:
                flag(key[0], f"duplicate catalog row {key}")
            got_cat[key] = r
        for k, rows in exp_cat.items():
            r = got_cat.get(k)
            if r is None:
                flag(k[0], f"no catalog row for op {k[0]} hour {k[1]}")
                continue
            lons = [x[3] for x in rows if x[3] is not None]
            lats = [x[2] for x in rows if x[2] is not None]
            want = (len(rows), min(lons), min(lats), max(lons), max(lats))
            got = (r.record_count, r.bbox_minx, r.bbox_miny, r.bbox_maxx, r.bbox_maxy)
            if want != got:
                flag(k[0], f"catalog row {k}: {got} != {want}")
        if set(got_cat) - set(exp_cat):
            flag(-1, "unexpected catalog rows")
        if catalog.total_records() != len(sink):
            flag(-1, "catalog total_records differs from sink rows")
        # each operation's quality check: passed, with the totals the
        # catalog held then (recent = rows within 1 hour of the latest ts)
        for op, c in enumerate(checks):
            seen = [k for k in exp_cat if k[0] <= op]
            anchor = max(cat_ts[k] for k in seen)
            total = sum(len(exp_cat[k]) for k in seen)
            recent = sum(
                len(exp_cat[k]) for k in seen if cat_ts[k] >= anchor - dt.timedelta(hours=1)
            )
            if not c.get("passed") or (c["total_records"], c["recent_records"]) != (total, recent):
                flag(op, f"quality check {c} (expected total {total}, recent {recent})")
        return bad_ops


class IngestWorkload:
    """Shared loop of the two ingest workloads: stage an operation's
    inputs (untimed), time the operation, record its layer counts when
    traced; check every operation's output at the end."""

    op_name = ""
    warmup_ops = 1
    # timed operations a --trace 1 run traces, by position in the window:
    # a fixed set, so per-operation layer means do not depend on --seconds
    # (the footer pass and catalog reads grow with the operation index)
    traced_ops = (1, 3)

    def __init__(self, spark, work: str, seed: int, tracer, dirs: tuple[str, ...], f32: bool):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.dirs = {k: os.path.join(work, k) for k in dirs}
        self.checker = IngestChecker(f32)
        self.run = Run()
        self.units: list[dict] = []
        self.fault = None  # self-test hook: fn(out_root) before the checks
        self.metrics = self.catalog = None
        self.staged: dict[int, tuple] = {}

    def stage(self, k: int) -> tuple[str, int, list]:
        """Write operation k's inputs; return (path, valid rows, the
        (feed_id, fetch ts, entities) the checker expects from it)."""
        raise NotImplementedError

    def apply(self, k: int, path: str) -> None:
        """The timed operation."""
        raise NotImplementedError

    def setup(self) -> None:
        t0 = time.perf_counter()  # the warm-up operations' inputs
        self.staged = {k: self.stage(k) for k in range(self.warmup_ops)}
        self.run.setup["generate_s"] = time.perf_counter() - t0
        self.start()
        t0 = time.perf_counter()
        for _ in range(self.warmup_ops):  # untimed, traced when tracing
            self.op(timed=False, traced=self.tracer is not None)
        self.run.setup["warmup_s"] = time.perf_counter() - t0

    def start(self) -> None:
        pass

    def op(self, timed: bool, traced: bool) -> None:
        k = len(self.units)
        path, n_good, feeds = self.staged.pop(k, None) or self.stage(k)
        for feed_id, ts, ents in feeds:
            self.checker.add(k, feed_id, ts, ents)
        unit = {self.op_name: k, "timed": timed, "traced": traced, "rows": n_good}
        tr = self.tracer
        if traced:
            counts0, gc0 = dict(tr.counts), tr.gc_ms()
            n_progress = self.progress_count()
        t0 = time.perf_counter()
        try:
            if traced:
                tr.active = True
                with tr.span(self.op_name, f"{self.op_name}{k}"):
                    self.apply(k, path)
            else:
                self.apply(k, path)
        except Exception as e:  # a failed operation is counted, not fatal
            unit["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        finally:
            unit["wall_s"] = time.perf_counter() - t0
            if tr:
                tr.active = False
        self.run.attempted += 1
        if traced:
            trace_id = f"{self.op_name}{k}"
            c = tr.spark_counts(tr.groups_of(trace_id))
            own = tr.spark_counts(tr.groups_of(trace_id, ("ingest.process",)))
            unit.update(
                {
                    "streaming.trigger_overhead_s": self.trigger_overhead(n_progress),
                    "ingest.jobs": c["jobs"],
                    "ingest.process_s": tr.seconds(trace_id, "ingest.process"),
                    "ingest.process_self_s": tr.self_seconds(trace_id, "ingest.process"),
                    "ingest.process_self_jobs": own["jobs"],
                    "pipeline.write_s": tr.seconds(trace_id, "pipeline.write"),
                    "pipeline.geo_footer_s": tr.seconds(trace_id, "pipeline.geo_footer"),
                    "catalog.append_s": tr.seconds(trace_id, "catalog.append"),
                    "catalog.check_s": tr.seconds(trace_id, "catalog.check"),
                    **spark_layers(tr, c, gc0),
                }
            )
            unit.update({k2: v - counts0.get(k2, 0) for k2, v in tr.counts.items()})
        self.units.append(unit)

    def progress_count(self) -> int:
        return 0

    def trigger_overhead(self, n_progress: int) -> float:
        return 0.0

    def stop(self) -> None:
        pass

    def measure(self, seconds: float, traced: bool) -> None:
        start = time.perf_counter()
        n = 0
        # a traced run traces the operations at traced_ops and times the
        # rest untraced, ending untraced
        least = max(self.traced_ops) + 2 if traced else 2
        while n < least or time.perf_counter() - start < seconds:
            self.op(timed=True, traced=traced and n in self.traced_ops)
            n += 1
        self.stop()
        if self.fault:
            self.fault(self.dirs["out"])
        self.count_failures()
        timed = [u for u in self.units if u["timed"]]
        plain = [u for u in timed if not u["traced"]] or timed
        walls = [u["wall_s"] for u in plain]
        r = self.run
        r.report[f"{self.op_name}_p50_s"] = statistics.median(walls)
        r.report[f"timed_{self.op_name}s"] = len(walls)
        tail = tail_percentile(walls)
        if tail:
            r.report[f"{self.op_name}_tail_pct"], r.report[f"{self.op_name}_tail_s"] = tail
        r.report[f"{self.op_name}_max_s"] = max(walls)
        r.report["ingest_rows_per_s"] = sum(u["rows"] for u in plain) / sum(walls)
        r.e2e["op_p50_s"] = statistics.median(walls)
        r.e2e["op_geomean_s"] = geomean(walls)
        if traced:
            units = [u for u in timed if u["traced"]]
            tw = [u["wall_s"] for u in units]
            r.overhead["op_p50_s"] = statistics.median(tw) - statistics.median(walls)
            r.overhead["op_geomean_s"] = geomean(tw) - geomean(walls)
            means: dict[str, float] = defaultdict(float)  # per traced operation
            for u in units:
                for k, v in u.items():
                    if "." in k:
                        means[k] += v / len(units)
            cores = self.spark.sparkContext.defaultParallelism
            means["scheduler.busy_frac"] = means["scheduler.task_run_s"] / (
                statistics.mean(tw) * cores
            )
            r.layers.update(means)

    def count_failures(self) -> None:
        """One failure per operation that raised or whose output differs;
        a finding about the whole output (operation -1) counts once, and
        only when no operation failed."""
        bad = {u[self.op_name]: u["error"] for u in self.units if "error" in u}
        found = self.checker.check(
            self.dirs["out"], self.dirs["quarantine"], self.catalog, self.metrics.checks
        )
        for op, why in found.items():
            bad.setdefault(op, why)
        if len(self.metrics.checks) != len(self.units):
            bad.setdefault(-1, f"{len(self.metrics.checks)} quality checks for {len(self.units)} operations")
        if len(bad) > 1:
            bad.pop(-1, None)
        for op, why in sorted(bad.items()):
            self.run.fail(f"{self.op_name} {op}: {why}")


TICK_T0 = dt.datetime(2024, 3, 1, 9, 30, tzinfo=inputs.UTC)


class TickWorkload(IngestWorkload):
    """The live path: a JSON spool drained by ``start_ingest`` one tick at
    a time (closed loop, one client). Event time advances one minute per
    tick."""

    op_name = "tick"
    warmup_ops = 4
    entities = 5500  # per tick: feeds of 4000, 1000 and 500 entities

    def __init__(self, spark, work: str, seed: int, tracer=None):
        dirs = ("spool", "staging", "out", "quarantine", "catalog", "ckpt")
        super().__init__(spark, work, seed, tracer, dirs, f32=False)
        for d in ("spool", "staging"):
            os.makedirs(self.dirs[d])
        self.query = None

    @staticmethod
    def tick_time(k: int) -> dt.datetime:
        # tick 0 sits 90 minutes before the rest, so the checks' 1-hour
        # lookback selects a strict subset from tick 1 on
        return TICK_T0 + dt.timedelta(minutes=k + (90 if k else 0))

    def stage(self, k: int) -> tuple[str, int, list]:
        import numpy as np

        rng = np.random.default_rng([self.seed, 2, k])
        d = os.path.join(self.dirs["staging"], f"tick{k:05d}")
        os.makedirs(d)
        ts = self.tick_time(k)
        n_good, feeds = 0, []
        for feed_id, n in inputs.feed_sizes(self.entities):
            ents = inputs.feed_entities(rng, feed_id, n)
            feeds.append((feed_id, ts, ents))
            n_good += sum(1 for e in ents if e.is_vehicle and not e.bad)
            with open(os.path.join(d, f"{feed_id}.json"), "w") as fh:
                fh.write(inputs.feed_json(feed_id, ts, ents))
        return d, n_good, feeds

    def start(self) -> None:
        from transit_feed_etl_spark.streaming.ingest import start_ingest

        # each tick's directory is renamed into the spool in one step, so
        # the file source never lists a partial tick
        self.query, self.metrics, self.catalog = start_ingest(
            self.spark,
            os.path.join(self.dirs["spool"], "*"),
            self.dirs["out"],
            self.dirs["catalog"],
            self.dirs["ckpt"],
            quarantine_root=self.dirs["quarantine"],
            processing_time="0 seconds",
            geoparquet=True,
        )

    def apply(self, k: int, path: str) -> None:
        os.rename(path, os.path.join(self.dirs["spool"], os.path.basename(path)))
        self.query.processAllAvailable()

    def progress_count(self) -> int:
        return len(self.query.recentProgress)

    def trigger_overhead(self, n_progress: int) -> float:
        out = 0.0
        for p in self.query.recentProgress[n_progress:]:
            d = p.durationMs
            if "addBatch" in d:
                out += (d["triggerExecution"] - d["addBatch"]) / 1000
        return out

    def stop(self) -> None:
        self.query.stop()


class BackfillWorkload(IngestWorkload):
    """Catch-up in the wire format: protobuf files decoded with
    ``decode_feed_files`` and handed, one directory per batch, to the
    ``make_batch_processor`` processor."""

    op_name = "batch"
    warmup_ops = 2
    fetches = 4  # per feed per batch, 20 minutes apart
    entities = 5500  # per fetch, over three feeds

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from transit_feed_etl_spark.pipeline.catalog import FileCatalog
        from transit_feed_etl_spark.streaming import ingest

        super().__init__(spark, work, seed, tracer, ("pb", "out", "quarantine", "catalog"), f32=True)
        os.makedirs(self.dirs["pb"])
        self.catalog = FileCatalog(spark, self.dirs["catalog"])
        # made after the tracer is installed, so the processor is wrapped
        self.process, self.metrics = ingest.make_batch_processor(
            self.dirs["out"], self.catalog, self.dirs["quarantine"], geoparquet=True
        )

    def stage(self, b: int) -> tuple[str, int, list]:
        import numpy as np

        rng = np.random.default_rng([self.seed, 3, b])
        d = os.path.join(self.dirs["pb"], f"batch{b:04d}")
        os.makedirs(d)
        n_good, feeds = 0, []
        for f in range(self.fetches):
            ts = TICK_T0 + dt.timedelta(minutes=20 * (b * self.fetches + f))
            for feed_id, n in inputs.feed_sizes(self.entities):
                ents = inputs.feed_entities(rng, feed_id, n)
                stem = f"{feed_id}-{b:04d}-{f}"  # decode_feed_files: feed_id = stem
                feeds.append((stem, ts, ents))
                n_good += sum(1 for e in ents if e.is_vehicle and not e.bad)
                inputs.write_pb_feed(os.path.join(d, f"{stem}.pb"), ents, ts)
        return d, n_good, feeds

    def apply(self, k: int, path: str) -> None:
        from transit_feed_etl_spark.sources.gtfs_wire import decode_feed_files

        self.process(decode_feed_files(self.spark, path), k)
