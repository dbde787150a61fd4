"""Traced runs: spans around the engine's public layers, measured from
outside by rebinding the names the callers resolve, plus per-op Spark
counters read from the driver's status store.

An untraced run uses only :func:`dir_bytes` from here.  A span is
``(name, start, end, parent, op)``, with ``op = -1`` outside the
measured ops (set-up, untimed history, reference checks); a layer's
self time is its spans' wall time minus the time of the spans nested
directly inside them.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JError

PKG = "meta_morph_etl_databricks_spark"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _local(path: str) -> str:
    return path[len("file:") :] if path.startswith("file:") else path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op = -1
        self.n_ops = 0
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead = 0.0
        self.sc = None
        self._cpu0 = 0.0

    # ------------------------------------------------------------ spans
    def span(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else -1
        idx, op = len(self.spans), self.op
        self.spans.append((name, 0.0, 0.0, parent, op))
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, op)

    def wrapper(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            out = self.span(name, fn, *args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(out, args, kwargs)
                self.overhead += time.perf_counter() - t
            return out

        return traced

    @staticmethod
    def rebind_everywhere(original, new) -> None:
        """Rebind every module-level name in the engine package bound to
        ``original`` — callers resolve their own imported names.  The
        traced process ends with the run, so nothing is restored."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, new)

    # -------------------------------------------------------------- ops
    def begin_op(self, sc) -> None:
        self.sc = sc
        self.n_ops += 1
        self.op = self.n_ops
        sc.setJobGroup(f"etlbench-op-{self.op}", "etlbench op")
        self._cpu0 = time.process_time()

    def end_op(self) -> None:
        self.counts["driver.py_cpu_s"] += time.process_time() - self._cpu0
        t = time.perf_counter()
        try:
            self._spark_counters(f"etlbench-op-{self.n_ops}")
        finally:
            self.op = -1
            self.sc.setJobGroup("etlbench-outside", "outside the measured ops")
            self.overhead += time.perf_counter() - t

    def _spark_counters(self, group: str) -> None:
        sc = self.sc
        jsc = sc._jsc.sc()
        try:  # let the status store see the op's last events
            jsc.listenerBus().waitUntilEmpty(5000)
        except Py4JError:
            pass
        tracker = sc.statusTracker()
        jvm = sc._jvm
        store = jsc.statusStore()
        no_q = sc._gateway.new_array(jvm.double, 0)
        stage_ids = set()
        jobs = tracker.getJobIdsForGroup(group)
        self.counts["spark.jobs"] += len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        c = self.counts
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q)
            except Py4JError:
                continue  # skipped stages never reach the store
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numTasks()
                c["spark.failed_tasks"] += sd.numFailedTasks()
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
                c["spark.gc_s"] += sd.jvmGcTime() / 1000.0

    # ---------------------------------------------------------- results
    def self_times(self, in_ops: bool = True) -> dict[str, float]:
        """Self time per span name: of the spans inside measured ops, or
        (``in_ops=False``) of every span, set-up included."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op >= 0 or not in_ops:
                out[name] += (t1 - t0) - child[i]
        return dict(out)

    def calls(self, name: str) -> int:
        """Calls made inside measured ops."""
        return sum(1 for s in self.spans if s[0] == name and s[4] >= 0)


def install(tracer: Tracer) -> None:
    """Rebind the engine layers a workload drives (traced run only)."""
    from meta_morph_etl_databricks_spark import session
    from meta_morph_etl_databricks_spark.operators import index_store
    from meta_morph_etl_databricks_spark.plans import pipeline
    from meta_morph_etl_databricks_spark.quality import dup_gate
    from meta_morph_etl_databricks_spark.sources import scans, sinks

    def written(target):
        """Bytes of the sink's target after the call (``target`` maps
        the call's arguments to the path it wrote)."""

        def after(out, args, kwargs):
            if tracer.op < 0:
                return  # outside the measured ops
            stack = tracer._stack
            if stack and tracer.spans[stack[-1]][0].startswith("sources.sinks."):
                return  # a sink's own staging write; the outer sink counts
            tracer.counts["sources.sinks.bytes_written"] += dir_bytes(_local(target(*args)))

        return after

    tracer.rebind_everywhere(
        session.get_spark, tracer.wrapper("session.get_spark", session.get_spark)
    )
    tracer.rebind_everywhere(
        pipeline.ingest, tracer.wrapper("plans.pipeline.ingest", pipeline.ingest)
    )
    for name, fn in list(pipeline.MART_FNS.items()):
        w = tracer.wrapper(f"plans.marts.{name}", fn)
        tracer.rebind_everywhere(fn, w)
        pipeline.MART_FNS[name] = w
    # The mart functions only build a lazy DataFrame: a mart executes
    # when run_daily writes its day partition, so that write is credited
    # to the mart too.  History partitions written by ingest stay in
    # ingest's self time.
    write_day = pipeline._write_day_partition

    def write_day_partition(df, path, day):
        parent, name = os.path.split(path.rstrip("/"))
        if os.path.basename(parent) != "marts":
            return write_day(df, path, day)
        return tracer.span(f"plans.marts.{name}", write_day, df, path, day)

    tracer.rebind_everywhere(write_day, write_day_partition)
    tracer.rebind_everywhere(
        dup_gate.assert_unique,
        tracer.wrapper("quality.dup_gate.assert_unique", dup_gate.assert_unique),
    )
    tracer.rebind_everywhere(
        sinks.write_parquet,
        tracer.wrapper(
            "sources.sinks.write_parquet",
            sinks.write_parquet,
            after=written(lambda df, path, *a: path),
        ),
    )
    tracer.rebind_everywhere(
        sinks.merge_upsert,
        tracer.wrapper(
            "sources.sinks.merge_upsert",
            sinks.merge_upsert,
            after=written(lambda spark, path, *a: path),
        ),
    )
    tracer.rebind_everywhere(
        sinks.publish_partition,
        tracer.wrapper(
            "sources.sinks.publish_partition",
            sinks.publish_partition,
            after=written(lambda spark, mart, out, day, *a: f"{out}/day_dt={day}"),
        ),
    )
    tracer.rebind_everywhere(
        scans.read_parquet_table,
        tracer.wrapper("sources.scans.read_parquet_table", scans.read_parquet_table),
    )
    for fn_name, span in (
        ("create_band_index", "operators.index_store.build"),
        ("serve_incremental_dedup", "operators.index_store.serve"),
        ("compact_index", "operators.index_store.compact"),
    ):
        fn = getattr(index_store, fn_name)
        tracer.rebind_everywhere(fn, tracer.wrapper(span, fn))

