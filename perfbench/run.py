#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed under a fresh directory in ``.perfbench_work/`` (removed at the
end), starts one local Spark session on every core, sets up and warms
the workload, measures it for about ``--seconds`` seconds, checks every
output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics (that run alternates traced and untraced
operations and also reports the tracing overhead). The full record
(environment, every metric under its own name, failures, and for traced
runs the spans) is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ingest_tick", "ingest_backfill", "sql_analytics", "corpus_curation")


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics; a per-layer metric a workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def process_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_peaks_mb(pids: list[int]) -> dict[str, float]:
    """Each live process's RSS high-water mark (VmHWM), by pid:command."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                status = fh.read()
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                out[f"{p}:{comm}"] = int(line.split()[1]) / 1024
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under us, and
    wait until each has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if gw:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while True:
        rest = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            for p in rest:
                try:
                    os.waitpid(p, 0)
                except ChildProcessError:
                    pass
            return
        for p in rest:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def prepare(tag: str) -> str:
    """Fresh work directory and the environment every run uses."""
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # workers (mapInPandas, pandas UDFs) import the package: they inherit
    # this environment through the JVM
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts first: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    return work


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def start_spark(work: str):
    from transit_feed_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every file the JVM writes inside the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
            f"-Dderby.system.home={work}/derby -XX:-UsePerfData",
        },
    )
    spark.range(1).collect()
    return spark


def make_workload(name: str, spark, work: str, seed: int, tracer=None, queries=None):
    import workloads as W

    if tracer and name.startswith("ingest"):
        tracer.install_ingest()
    elif tracer:
        tracer.install_queries()
    if name == "ingest_tick":
        return W.TickWorkload(spark, work, seed, tracer)
    if name == "ingest_backfill":
        return W.BackfillWorkload(spark, work, seed, tracer)
    if queries is None:
        queries = W.SQL_QUERIES if name == "sql_analytics" else W.CORPUS_QUERIES
    return W.QueryWorkload(spark, work, seed, queries, tracer)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "transit_feed_etl_spark/__init__.py", "tests/oracle_utils.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout", file=sys.stderr)
            return 2
    work = prepare(f"{args.workload}-s{args.seed}")
    try:
        return measure(args, work)
    finally:
        cleanup(work)


def measure(args, work: str) -> int:
    import workloads as W
    from tracing import Tracer

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "loadavg_start": list(os.getloadavg()),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    env.update(versions(), spark=spark.version)
    try:
        tracer = Tracer(spark) if args.trace else None
        wl = make_workload(args.workload, spark, work, args.seed, tracer)
        if args.workload == "ingest_tick":
            env["tail_rule"] = "tick_tail_s: highest percentile with >= 10 timed ticks beyond it"
        elif not args.workload.startswith("ingest"):
            env.update(sf=W.SF, queries=[q.name for q in wl.queries])
        wl.setup()
        setup_s = time.perf_counter() - t0  # session, inputs, oracles, warm-up
        wl.measure(args.seconds, traced=bool(args.trace))
        run = wl.run
        run.setup["session_s"] = session_s
        run.e2e["setup_s"] = setup_s
        env["rss_peak_mb_by_process"] = rss_peaks_mb(process_tree(os.getpid()))
        run.e2e["peak_rss_mb"] = sum(env["rss_peak_mb_by_process"].values())
        if tracer:
            tracer.uninstall()
    finally:
        env["loadavg_end"] = list(os.getloadavg())
        stop_spark(spark)

    r = run
    report = dict(r.report)
    report.update(setup_s=r.e2e["setup_s"], peak_rss_mb=r.e2e["peak_rss_mb"])
    report["failed_ops_frac"] = r.failed / r.attempted
    if args.trace:
        metrics = {}
        for k, unit in metric_units("per_layer").items():
            if k.startswith("setup."):
                v = r.setup[k.split(".", 1)[1]]
            else:
                v = r.layers.get(k, 0.0)
            metrics[k] = {"value": v, "unit": unit}
    else:
        metrics = {k: {"value": r.e2e[k], "unit": u} for k, u in metric_units("end_to_end").items()}
    record = {
        "env": env,
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "failures": r.failures,
        "report": report,
        "setup": r.setup,
        "metrics": metrics,
        "operations": wl.units,
    }
    if args.trace:
        record["tracing_overhead_s"] = r.overhead
        record["layer_moves"] = LAYER_MOVES
        record["spans"] = tracer.dump()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("# env " + json.dumps(env, default=str))
    print("# result " + json.dumps({k: round(v, 6) for k, v in report.items()}))
    if r.failures:
        print("# failures " + json.dumps(r.failures))
    if args.trace:
        print("# tracing_overhead_s " + json.dumps(r.overhead))
    print(
        json.dumps(
            {
                "correct": r.failed == 0,
                "attempted": r.attempted,
                "failed": r.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


# which end-to-end metric each layer should move, on which workload
LAYER_MOVES = {
    "streaming.trigger_overhead_s": "op_p50_s (tick_p50_s) on ingest_tick",
    "ingest.*": "op_p50_s on ingest_tick; ingest_rows_per_s on ingest_backfill",
    "pipeline.write_s, pipeline.files_written": "ingest_rows_per_s on ingest_backfill; op_p50_s on ingest_tick",
    "pipeline.geo_footer_*": "tick tail (tick_max_s) on ingest_tick; files_scanned grows with the tick index",
    "catalog.*": "op_p50_s on ingest_tick",
    "query.build_*, cache.persisted_rdds": "op_p50_s (query_pass_s) on corpus_curation; ~0 on sql_analytics",
    "query.action_*": "op_p50_s (query_pass_s) on corpus_curation and sql_analytics",
    "catalyst.*": "op_geomean_s (query_geomean_s) on sql_analytics and corpus_curation",
    "scheduler.*": "op_p50_s (query_pass_s) on corpus_curation",
    "exchange.*, join.*": "op_p50_s (query_pass_s) on corpus_curation and sql_analytics",
    "jvm.gc_s": "peak_rss_mb and op_p50_s on corpus_curation",
    "setup.*": "setup_s on every workload",
}


if __name__ == "__main__":
    sys.exit(main())
