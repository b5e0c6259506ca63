#!/usr/bin/env python3
"""Shows that the benchmark's output checks count bad outputs.

    python3 perfbench/selftest.py

Runs a short tick ingest, a short backfill and a short query workload
through the same code as ``run.py``, each with one corrupted result and
one dropped row injected after the operation ran and before its check.
Exits 0 when each workload counts exactly its two faulted operations in
``failed`` (and so in ``failed_ops_frac``).
"""

from __future__ import annotations

import glob
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import run as R

QUERIES = ("topk_orders", "left_join_order_counts", "latest_event_per_user")


def query_case(spark, work: str) -> tuple[int, int]:
    from workloads import corrupt

    wl = R.make_workload("sql_analytics", spark, work, seed=7, queries=QUERIES)
    wl.setup()

    faulted = set()

    def fault(name, rows):  # set after the warm-up: timed executions only
        if name in faulted:
            return rows
        faulted.add(name)
        if name == QUERIES[0]:
            return corrupt(rows)
        if name == QUERIES[1]:
            return rows[1:]
        return rows

    wl.fault = fault
    wl.measure(0, traced=False)  # the first timed pass carries the faults
    return wl.run.attempted, wl.run.failed


def ingest_case(spark, work: str, workload: str) -> tuple[int, int]:
    wl = R.make_workload(workload, spark, work, seed=7)
    wl.setup()

    def fault(out_root):
        # each operation wrote its own files: change one of operation 1's,
        # drop a row from one of operation 2's
        files = sorted(glob.glob(f"{out_root}/**/*.parquet", recursive=True))
        ts_first = {f: pq.read_table(f, columns=["ts"])["ts"][0].as_py() for f in files}
        by_batch = {}
        for f, ts in ts_first.items():
            b = wl.checker.op_of_ts[ts]
            by_batch.setdefault(b, f)
        for b, change in ((1, "corrupt"), (2, "drop")):
            f = by_batch[b]
            t = pq.read_table(f)
            meta = t.schema.metadata
            if change == "drop":
                t = t.slice(1)
            else:
                i = t.column_names.index("speed")
                speed = t["speed"].to_pylist()
                speed[0] = (speed[0] or 0.0) + 1.0
                t = t.set_column(i, "speed", pa.array(speed, t["speed"].type))
            pq.write_table(t.replace_schema_metadata(meta), f)

    wl.fault = fault
    wl.measure(0, traced=False)  # two timed operations
    return wl.run.attempted, wl.run.failed


def main() -> int:
    work = R.prepare("selftest")
    ok = True
    try:
        spark = R.start_spark(work)
        try:
            for name, case, expect in (
                ("ingest_tick", ingest_case, 2),
                ("ingest_backfill", ingest_case, 2),
                ("sql_analytics", query_case, 2),
            ):
                args = (name,) if case is ingest_case else ()
                attempted, failed = case(spark, f"{work}/{name}", *args)
                good = failed == expect
                ok &= good
                print(
                    f"{name}: attempted={attempted} failed={failed} "
                    f"failed_ops_frac={failed / attempted:.3f} "
                    f"(expected {expect} failed) {'ok' if good else 'NOT DETECTED'}"
                )
        finally:
            R.stop_spark(spark)
    finally:
        R.cleanup(work)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
