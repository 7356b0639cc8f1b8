"""The traced run: spans and counts recorded by wrappers around the public
engine functions that ``CrawlRun.run_wave`` and ``invalidate`` call.

Each wrapper opens a span, calls the engine function, then persists and
counts the function's output inside the span, so the span holds the work
and not just lazy plan building. The wrappers are installed for the
measured part of a traced run only and removed afterwards; untraced runs
never touch the engine.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import ExitStack, contextmanager

from perfbench.stats import Span

FETCH_JOB = "perfbench:fetch"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._next = 0
        self._persisted: list = []

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            sid = self._next
            self._next += 1
            stack = self._stacks.setdefault(tid, [])
            # a worker thread (the commit's concurrent table writes) hangs
            # its spans under the span open on the main thread
            owner = stack or self._stacks.get(self._main, [])
            parent = owner[-1] if owner else None
            stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                stack.pop()
                self.spans.append(Span(sid, name, parent, start, end))

    def materialize(self, df):
        """Persist and count ``df`` (inside the caller's span); the cache is
        dropped by :meth:`release` after the wave."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


@contextmanager
def _patched(obj, name: str, value):
    old = getattr(obj, name)
    had_own = name in vars(obj)
    setattr(obj, name, value)
    try:
        yield
    finally:
        if had_own:
            setattr(obj, name, old)
        else:
            delattr(obj, name)


@contextmanager
def traced_engine(tr: Tracer, run):
    """Install the span wrappers around the engine calls one ``CrawlRun``
    makes; restore everything on exit."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from price_crawler_spark.frontier import politeness
    from price_crawler_spark.frontier import wave as wave_mod

    real_schedule = politeness.schedule_wave
    real_fetch = wave_mod.fetch_scheduled
    real_dedup = wave_mod.dedup_in_batch
    real_filter_new = wave_mod.filter_new
    filt = run.bloom
    real_probe = filt.probe
    real_commit, real_read = run.store.commit, run.store.read
    real_parquet = DataFrameWriter.parquet
    sc = run.spark.sparkContext
    max_retries = run.max_retries

    def schedule_wave(*a, **k):
        with tr.span("politeness.schedule"):
            out = []
            for key, df in zip(("scheduled", "deferred", "blocked"), real_schedule(*a, **k)):
                df, n = tr.materialize(df)
                tr.count(f"politeness.{key}_rows", n)
                out.append(df)
        return tuple(out)

    def fetch_scheduled(*a, **k):
        with tr.span("fetch.fetch_scheduled"):
            sc.setJobDescription(FETCH_JOB)
            try:
                df, _ = tr.materialize(real_fetch(*a, **k))
            finally:
                sc.setJobDescription(None)
        with tr.span("trace.count"):
            row = df.agg(
                F.sum(F.col("ok").cast("int")).alias("ok"),
                F.sum((~F.col("ok") & (F.col("attempts") < max_retries)).cast("int")).alias("retried"),
                F.sum((~F.col("ok") & (F.col("attempts") >= max_retries)).cast("int")).alias("failed"),
            ).first()
        for key in ("ok", "retried", "failed"):
            tr.count(f"fetch.{key}_rows", row[key] or 0)
        return df

    def dedup_in_batch(cand, *a, **k):
        with tr.span("urls.canonicalize"):
            cand, n_in = tr.materialize(cand)
        with tr.span("seen.dedup"):
            out, n_out = tr.materialize(real_dedup(cand, *a, **k))
        tr.count("seen.dedup_in_rows", n_in)
        tr.count("seen.dedup_out_rows", n_out)
        return out

    def filter_new(*a, **k):
        with tr.span("seen.filter_new"):
            out, n = tr.materialize(real_filter_new(*a, **k))
        tr.count("seen.new_rows", n)
        return out

    def probe(*a, **k):
        with tr.span("seen.probe"):
            out, n = tr.materialize(real_probe(*a, **k))
        with tr.span("trace.count"):
            maybe = out.filter("maybe_seen").count()
        tr.count("seen.probe_rows", n)
        tr.count("seen.maybe_seen_rows", maybe)
        return out

    def mutate(kind):
        real = getattr(filt, kind)

        def call(*a, **k):
            with tr.span(f"seen.{kind}"):
                out, _ = tr.materialize(real(*a, **k))
            return out

        return call

    def commit(*a, **k):
        with tr.span("store.commit"):
            return real_commit(*a, **k)

    def read(spark, name):
        with tr.span("store.read"):
            df = real_read(spark, name)
            if df is not None:
                df, _ = tr.materialize(df)
        return df

    def parquet(writer, path, *a, **k):
        table = os.path.basename(os.path.dirname(os.path.normpath(path)))
        with tr.span(f"store.write.{table}"):
            return real_parquet(writer, path, *a, **k)

    with ExitStack() as stack:
        for obj, name, value in (
            (politeness, "schedule_wave", schedule_wave),
            (wave_mod, "fetch_scheduled", fetch_scheduled),
            (wave_mod, "dedup_in_batch", dedup_in_batch),
            (wave_mod, "filter_new", filter_new),
            (filt, "probe", probe),
            (filt, "insert", mutate("insert")),
            (run.store, "commit", commit),
            (run.store, "read", read),
            (DataFrameWriter, "parquet", parquet),
        ):
            stack.enter_context(_patched(obj, name, value))
        if hasattr(filt, "delete"):  # the cuckoo filter deletes, Bloom cannot
            stack.enter_context(_patched(filt, "delete", mutate("delete")))
        yield


def fetch_stage_balance(event_log_dir: str, n_cores: int) -> dict:
    """From a Spark event log: the fetch UDF stage of every job tagged
    :data:`FETCH_JOB`, its wall (submission to completion) and the summed
    executor run time of its tasks. ``balance`` = wall / (run_sum / cores):
    1.0 is perfect packing, higher means stragglers or idle slots."""
    jobs: dict[int, list[int]] = {}
    stage_wall: dict[int, float] = {}
    stage_run: dict[int, float] = {}
    files = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(event_log_dir)
        for n in names
        if not n.startswith(".")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.job.description") == FETCH_JOB:
                        jobs[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info and "Submission Time" in info:
                        stage_wall[info["Stage ID"]] = (
                            info["Completion Time"] - info["Submission Time"]
                        ) / 1000
                elif kind == "SparkListenerTaskEnd":
                    metrics = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    stage_run[sid] = stage_run.get(sid, 0.0) + metrics.get(
                        "Executor Run Time", 0
                    ) / 1000
    wall = run_sum = 0.0
    for stage_ids in jobs.values():
        ran = [s for s in stage_ids if s in stage_wall and s in stage_run]
        if not ran:
            continue
        # the UDF stage is the job's costliest; the others are the shuffle
        # feeding it and the final one-task count
        s = max(ran, key=lambda i: stage_run[i])
        wall += stage_wall[s]
        run_sum += stage_run[s]
    return {
        "stages": len(jobs),
        "stage_wall_s": wall,
        "task_run_sum_s": run_sum,
        "balance": wall / (run_sum / n_cores) if run_sum > 0 else 0.0,
    }
