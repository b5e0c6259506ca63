"""Benchmark-side tracing: spans and counts recorded around calls into the
package's public functions, from outside the package.

A ``Tracer`` patches a few module attributes for the life of one run
(``install_ingest`` / ``install_queries``) and puts them back
(``uninstall``). Each wrapped call
opens a span (name, start, end, parent, trace id shared by one tick,
batch or query) and runs under its own Spark job group, so the jobs,
stages, tasks, shuffle bytes and GC time Spark's status store records
can be charged to the span that launched them. Spans and counts stay in
memory; ``Tracer.dump`` writes them when the run ends.

Only units run with ``tracer.active = True`` are recorded; with it off
every wrapper is a flag test and a direct call, which is what lets one
run alternate traced and untraced units and report the difference as
the tracing overhead.
"""

from __future__ import annotations

import glob
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

JOIN_RE = {
    "join.sort_merge": re.compile(r"\bSortMergeJoin\b"),
    "join.broadcast_hash": re.compile(r"\bBroadcastHashJoin\b"),
    "join.shuffled_hash": re.compile(r"\bShuffledHashJoin\b"),
}


def parquet_files(root: str) -> int:
    return len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._trace_id = ""
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        """Record one span; runs its body under a job group of its own."""
        if trace_id is not None:
            self._trace_id = trace_id
        idx = len(self.spans)
        group = f"{self._trace_id}/{name}#{idx}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "trace": self._trace_id,
            "parent": parent,
            "group": group,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(
        self, owner, attr: str, name: str | None, before=None, after=None, parent=None
    ) -> None:
        """Patch ``owner.attr`` with a wrapper that, while the tracer is
        active, records a span called ``name`` (none when ``name`` is
        None; only directly under a span called ``parent`` when given).
        ``before(args)`` runs outside the span and returns a token handed
        to ``after(token, args, result)``, which records counts."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.active or (
                parent and (not self._stack or self.spans[self._stack[-1]]["name"] != parent)
            ):
                return orig(*args, **kwargs)
            token = before(args) if before else None
            if name is None:
                out = orig(*args, **kwargs)
            else:
                with self.span(name):
                    out = orig(*args, **kwargs)
            if after:
                after(token, args, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # ---- the package's public seams ------------------------------------------

    def install_ingest(self) -> None:
        from transit_feed_etl_spark.pipeline import catalog as cat_mod
        from transit_feed_etl_spark.pipeline import geoparquet
        from transit_feed_etl_spark.streaming import ingest

        c = self.counts

        def files_before(args):
            return parquet_files(args[1])

        def files_after(before, args, _):
            c["pipeline.files_written"] += parquet_files(args[1]) - before

        self.wrap(ingest, "write_partitioned", "pipeline.write", files_before, files_after)

        def footer_after(scanned, _args, stamped):
            c["pipeline.geo_footer_files_scanned"] += scanned
            c["pipeline.geo_footer_files_stamped"] += stamped

        self.wrap(
            geoparquet,
            "finalize_geo_metadata",
            "pipeline.geo_footer",
            lambda args: parquet_files(args[0]),
            footer_after,
        )
        self.wrap(cat_mod.FileCatalog, "append_batch_partitions", "catalog.append")
        self.wrap(cat_mod.FileCatalog, "check_not_empty", "catalog.check")

        def read_count(args):
            c["catalog.files_read"] += parquet_files(args[0].path)

        # FileCatalog.read opens every catalog file; count them per call
        self.wrap(cat_mod.FileCatalog, "read", None, read_count)

        orig_make = ingest.make_batch_processor

        def make_batch_processor(*args, **kwargs):
            process, metrics = orig_make(*args, **kwargs)

            def traced(batch, batch_id):
                if not self.active:
                    return process(batch, batch_id)
                with self.span("ingest.process"):
                    return process(batch, batch_id)

            return traced, metrics

        ingest.make_batch_processor = make_batch_processor
        self._restore.append((ingest, "make_batch_processor", orig_make))

    def install_queries(self) -> None:
        # the session's concrete DataFrame class (it overrides collect);
        # only the query's own action is a span: a collect inside a
        # builder stays part of the builder's eager work
        self.wrap(type(self.spark.range(0)), "collect", "query.action", parent="query")

    # ---- Spark-side accounting ---------------------------------------------------

    def _drain_listener(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def spark_counts(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages, tasks, task time and shuffle writes launched under
        the given job groups, from Spark's status store."""
        self._drain_listener()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped (shuffle reuse): never ran
                        continue
                    if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["task_run_ms"] += st.executorRunTime()
                    if st.shuffleWriteRecords() > 0:
                        out["shuffle_stages"] += 1
                        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        out["shuffle_write_records"] += st.shuffleWriteRecords()
        return out

    def groups_of(self, trace_id: str, names: tuple[str, ...] | None = None) -> list[str]:
        return [
            s["group"]
            for s in self.spans
            if s["trace"] == trace_id and (names is None or s["name"] in names)
        ]

    def self_seconds(self, trace_id: str, name: str) -> float:
        """Sum over spans called ``name`` in one trace of duration minus
        the time covered by their direct children."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["trace"] != trace_id or s["name"] != name:
                continue
            kids = sum(
                k["end"] - k["start"] for k in self.spans if k["parent"] == i
            )
            total += (s["end"] - s["start"]) - kids
        return total

    def seconds(self, trace_id: str, name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["trace"] == trace_id and s["name"] == name
        )

    def catalyst_ms(self, df) -> dict[str, float]:
        phases = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases()
        )
        return {k: float(phases[k].durationMs()) for k in phases.keySet()}

    @staticmethod
    def join_counts(df) -> dict[str, int]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return {k: len(r.findall(plan)) for k, r in JOIN_RE.items()}

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {
                "id": i,
                "name": s["name"],
                "trace": s["trace"],
                "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
            }
            for i, s in enumerate(self.spans)
        ]
