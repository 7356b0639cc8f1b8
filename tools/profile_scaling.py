"""Stage-level decomposition of the scaling job at two parallelism levels.

Runs ``bench.frontier_throughput`` (the --scaling job: canonicalize, then
the engine's dedup_in_batch + schedule_wave) with the Spark event log on,
then aggregates per-stage task metrics: wall time (stage submit -> completion), summed executor run
time, GC, shuffle bytes, python-UDF time. The point is to ATTRIBUTE the
non-scaling seconds: a stage whose wall time doesn't shrink 8->32 while its
summed run time stays flat is a granularity/straggler problem; one whose
summed run time GROWS at 32 cores is a contention (memory-bandwidth / GC)
problem.

Input size follows bench.py's env (``SPARK_GRAFT_SF_DIR``,
``SPARK_GRAFT_URL_VARIANTS``, default 128 here).

Usage: PYTHONPATH=. python tools/profile_scaling.py [cpus ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def run_once(cpus: int) -> dict:
    import bench
    from price_crawler_spark.session import get_spark

    evdir = f"/tmp/spark-events-{cpus}"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark(
        f"prof{cpus}",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    bench.frontier_throughput(spark, bench.SF_DIR)  # warm-up (codegen + python workers)
    _, wall = bench.frontier_throughput(spark, bench.SF_DIR)
    # stages of the timed window only (the input materialization before it
    # is excluded, like the bench's own timing)
    t_min = time.time() - wall
    spark.stop()
    time.sleep(2)

    stages = aggregate_event_log(evdir, t_min)
    return {"cpus": cpus, "wall_s": round(wall, 2), "stages": stages}


def aggregate_event_log(evdir: str, t_min: float) -> list[dict]:
    """Parse a Spark event-log dir (Spark 4 rolling layout: a directory of
    events_* files) into per-stage task-metric aggregates; keeps only
    stages submitted after ``t_min``. Shared by profile_wave.py."""
    stages: dict[tuple, dict] = {}

    def _event_lines():
        root = [
            f
            for f in os.listdir(evdir)
            if not f.startswith(".") and not f.endswith(".inprogress")
        ]
        root = os.path.join(evdir, sorted(root)[0])
        files = (
            sorted(
                os.path.join(root, f)
                for f in os.listdir(root)
                if f.startswith("events_")
            )
            if os.path.isdir(root)
            else [root]
        )
        for path in files:
            yield from open(path)

    for line in _event_lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time", 0) / 1000.0 < t_min:
                continue
            key = (si["Stage ID"], si.get("Stage Attempt ID", si.get("Attempt ID", 0)))
            stages[key] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "tasks": si["Number of Tasks"],
                "wall_s": round(
                    (si["Completion Time"] - si["Submission Time"]) / 1000.0, 2
                ),
                "run_s": 0.0,
                "gc_s": 0.0,
                "cpu_s": 0.0,
                "deser_s": 0.0,
                "sh_write_mb": 0.0,
                "sh_read_mb": 0.0,
                "max_task_s": 0.0,
            }
    # second pass: accumulate every TaskEnd of the kept stages (TaskEnd
    # events precede their StageCompleted in the log, so stage entries don't
    # exist yet during the first pass)
    for line in _event_lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        if key not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        st = stages[key]
        rt = m.get("Executor Run Time", 0) / 1000.0
        st["run_s"] += rt
        st["max_task_s"] = max(st["max_task_s"], rt)
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
        st["sh_write_mb"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
        )
        st["sh_read_mb"] += (
            m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            + m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        ) / 1e6
    for st in stages.values():
        for k in (
            "run_s", "gc_s", "cpu_s", "deser_s", "sh_write_mb", "sh_read_mb",
            "max_task_s",
        ):
            st[k] = round(st[k], 2)
    return [stages[k] for k in sorted(stages)]


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_URL_VARIANTS", "128")
    cpus_list = [int(a) for a in sys.argv[1:]] or [32, 8]
    for c in cpus_list:
        r = run_once(c)
        print(json.dumps(r, indent=1))
