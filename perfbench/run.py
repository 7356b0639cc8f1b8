"""Engine-path crawl benchmark.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Runs one workload on the engine's public entry points, checks every unit's
outputs, prints each metric by name and unit, writes the per-run detail
(samples, spans, ledger, box stamp) to a sidecar file under .perfbench/out/
and prints, as the last stdout line, the headline JSON:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones from a
traced run. Exits non-zero without a headline when the engine sources are
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, this file's directory heads sys.path; import the
# benchmark as the ``perfbench`` package from the checkout root instead
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
WORKLOADS = ("bulk_crawl", "polite_recrawl")
# machine-speed probe rounds before the session starts and after it stops
PROBE_REPS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("price_crawler_spark/frontier/wave.py", "tests/oracle_crawler.py")
    )


def _environment(work: str, heap_mb: int, traced: bool) -> dict:
    """Everything the session and its Python workers must see before the
    JVM starts; every scratch path is inside the run's work directory."""
    from perfbench.workloads import CATALOG_N

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CATALOG_N=str(CATALOG_N),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        # no hsperfdata file under /tmp from the driver JVM or spark-submit's
        # launcher JVM: the run writes only inside the checkout
        SPARK_GRAFT_JVM_OPTS=f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _stop_spark(spark) -> list[int]:
    """Stop the session and its JVM; wait for the JVM and every Python
    worker to end. Returns pids still alive after the wait."""
    from pyspark import SparkContext

    from perfbench import box

    procs = box.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    alive = box.wait_gone(procs, timeout=20)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return box.wait_gone(alive, timeout=5)


def _history(state_dir: str, workload: str, value: float | None) -> list[float]:
    """Untraced ``job_s`` values, at the reference machine speed, of earlier
    runs in this checkout (the reference for the tracing overhead); appends
    ``value`` when given."""
    path = os.path.join(state_dir, f"{workload}_untraced_job_s.json")
    values = []
    if os.path.exists(path):
        with open(path) as f:
            values = json.load(f)
    if value is not None:
        values.append(value)
        with open(path + ".tmp", "w") as f:
            json.dump(values, f)
        os.replace(path + ".tmp", path)
    return values


def layer_metrics(ctx, out: dict, session_s: float, workload: str, probe_s: float) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run's spans and counts, the
    committed-state health, and the fetch stage's event-log balance. Times
    are as measured; only the tracing overhead compares ``job_s`` with
    earlier untraced runs at the reference machine speed."""
    from perfbench import speed, stats
    from perfbench.tracing import fetch_stage_balance

    tr = ctx.tr
    led = stats.ledger(tr.spans, out["traced_wall_s"])
    self_s = led["by_name"]
    wall = stats.wall_by_name(tr.spans)
    c = tr.counts
    h = ctx.detail.get("health", {})
    balance = (
        fetch_stage_balance(ctx.event_log, ctx.cores)
        if any(s.name == "fetch.fetch_scheduled" for s in tr.spans)
        else {"balance": 0.0, "task_run_sum_s": 0.0}
    )
    transport = ctx.detail.get("transport_cpu_s", 0.0)
    extract = [s.end - s.start for s in tr.spans if s.name == "extraction.extract"]
    query = [s.end - s.start for s in tr.spans if s.name == "search.query"]

    def frac(a, b):
        return a / b if b else 0.0

    ref = _history(ctx.state_dir, workload, None)
    job_ref = speed.at_reference(out["job_s"], "s", probe_s)
    metrics = {
        "session.start_s": session_s,
        "seeds.init_s": stats.median(ctx.setup_samples),
        "urls.canonicalize_s": self_s.get("urls.canonicalize", 0.0),
        "seen.dedup_s": self_s.get("seen.dedup", 0.0),
        "seen.probe_s": self_s.get("seen.probe", 0.0),
        "seen.residue_s": self_s.get("seen.filter_new", 0.0),
        "seen.insert_s": self_s.get("seen.insert", 0.0),
        "seen.delete_s": self_s.get("seen.delete", 0.0),
        "seen.maybe_seen_frac": frac(c.get("seen.maybe_seen_rows", 0), c.get("seen.probe_rows", 0)),
        "seen.bloom_est_fpr": h.get("bloom", {}).get("est_fpr_max", 0.0),
        "seen.cuckoo_load_max": h.get("cuckoo", {}).get("load_max", 0.0),
        "politeness.schedule_s": self_s.get("politeness.schedule", 0.0),
        "fetch.busy_s": self_s.get("fetch.fetch_scheduled", 0.0),
        "fetch.transport_cpu_s": transport,
        "fetch.balance": balance["balance"],
        "store.commit_s": self_s.get("store.commit", 0.0),
        "store.write_s": sum(v for k, v in self_s.items() if k.startswith("store.write.")),
        "store.read_s": self_s.get("store.read", 0.0),
        "store.manifest_bytes": h.get("manifest_bytes", 0),
        "wave.self_s": led["by_layer"].get("wave", 0.0),
        "wave.invalidate_s": wall.get("wave.invalidate", 0.0),
        "extraction.extract_s": stats.median(extract),
        "search.query_s": stats.median(query),
        "ledger.coverage": led["coverage"],
        "trace.overhead_frac": job_ref / stats.median(ref) - 1 if ref and job_ref else 0.0,
    }
    new_rows = c.get("seen.new_rows", 0)
    maybe = c.get("seen.maybe_seen_rows", 0)
    probed = c.get("seen.probe_rows", 0)
    detail = {
        "ledger": led,
        "span_wall_s": wall,
        "counts": c,
        "store.write_s_by_table": {k[len("store.write."):]: v for k, v in wall.items() if k.startswith("store.write.")},
        "store.file_groups": h.get("file_groups", {}),
        "seen.dedup_dup_frac": frac(c.get("seen.dedup_in_rows", 0) - c.get("seen.dedup_out_rows", 0), c.get("seen.dedup_in_rows", 0)),
        # maybe-seen rows that the exact anti-join found new after all
        "seen.fp_frac": frac(new_rows - (probed - maybe), maybe),
        "fetch.transport_frac": frac(transport, balance["task_run_sum_s"]),
        "fetch.stage": balance,
        "extraction.products_rows": ctx.detail.get("products_rows", 0),
        "search.rows_scored": ctx.detail.get("products_rows", 0),
        "search.rows_returned": stats.median(ctx.detail.get("rows_returned", [])),
        "trace.overhead_ref_runs": len(ref),
    }
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    from perfbench import box, speed, stats
    from perfbench.workloads import WORKLOADS as RUNNERS, Ctx, shuffle_partitions

    n_cores = box.cores()
    mem = box.meminfo_kb()
    heap_mb = box.driver_heap_mb(mem["MemTotal"])
    state_dir = os.path.join(base, "state")
    os.makedirs(state_dir, exist_ok=True)
    traced = args.trace == 1
    conf = _environment(work, heap_mb, traced)
    load_before = box.loadavg_1m()
    t_start = time.time()
    # machine speed, measured while no JVM is up: before the session and
    # after it has stopped
    probe_before = speed.probe(n_cores, PROBE_REPS)
    marks = {"probe": time.time() - t_start}
    ticks_before = box.cpu_ticks()
    with box.PeakMemory() as mem_peak:
        from perfbench.tracing import Tracer
        from price_crawler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            cores=n_cores,
            shuffle_partitions=shuffle_partitions(args.workload, n_cores),
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        marks["session"] = time.time() - t_start
        ctx = Ctx(spark, work, n_cores, args.seconds, Tracer() if traced else None, state_dir)
        try:
            out = RUNNERS[args.workload](ctx, args.seed)
        except Exception as e:  # the workload could not run at all
            ctx.attempted = max(ctx.attempted, 1)
            ctx.fail("workload", f"{type(e).__name__}: {e}")
            out = None
        finally:
            marks["workload"] = time.time() - t_start
            still_alive = _stop_spark(spark)
            marks["stop"] = time.time() - t_start
    cpu = box.cpu_shares(ticks_before, box.cpu_ticks())
    probe_after = speed.probe(n_cores, PROBE_REPS)
    marks["probe_after"] = time.time() - t_start
    probe_s = stats.median(probe_before + probe_after)
    load_after = box.loadavg_1m()

    correct = out is not None and not ctx.failures and not still_alive
    failed = len(ctx.failed_units) if out is not None else ctx.attempted
    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_unix": t_start,
        # seconds from the start at which each phase of the run ended
        "timeline_s": marks,
        "box": {"nproc": n_cores, "mem_total_mb": mem["MemTotal"] // 1024, "driver_heap_mb": heap_mb,
                "master": f"local[{n_cores}]", "shuffle_partitions": shuffle_partitions(args.workload, n_cores)},
        "quiet": box.quiet_stamp(load_before, load_after, n_cores),
        # the machine's CPU time by state while the session was up
        "cpu_shares": cpu,
        "speed": {"probe_s": probe_s, "ref_probe_s": speed.REF_PROBE_S, "factor": speed.speed_factor(probe_s),
                  "probe_s_before": probe_before, "probe_s_after": probe_after},
        "failures": ctx.failures,
        "processes_left": still_alive,
        "setup_s_samples": ctx.setup_samples,
        "peak_pss_mb": mem_peak.peaks,
        "checks": ctx.checks,
        "fail_rate": failed / max(ctx.attempted, 1),
        **ctx.detail,
    }
    metrics: dict[str, tuple[float, str]] = {}
    if out is not None:
        sidecar["waves_s"] = out["waves"]
        # the highest percentile with >= 10 waves beyond it (None below 20)
        nn = stats.tail_percentile(len(out["waves"]))
        sidecar["wave_tail"] = {"n": len(out["waves"]), "pct": nn,
                                "value_s": stats.percentile(out["waves"], nn) if nn else None}
        if traced:
            layer, detail = layer_metrics(ctx, out, session_s, args.workload, probe_s)
            layer["session.peak_pss_mb"] = mem_peak.peak_mb
            sidecar["layers"] = detail
            units = {"_frac": "ratio", "_fpr": "ratio", "_max": "ratio", "balance": "ratio",
                     "coverage": "ratio", "_bytes": "B", "_mb": "MB"}
            for k, v in layer.items():
                unit = next((u for suffix, u in units.items() if k.endswith(suffix)), "s")
                metrics[k] = (v, unit)
        else:
            measured = {
                "setup_s": (stats.median(ctx.setup_samples), "s"),
                "urls_per_s": (out["urls_per_s"], "1/s"),
                "wave_p50_s": (out["wave_p50_s"], "s"),
                "job_s": (out["job_s"], "s"),
            }
            sidecar["measured_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in measured.items()}
            # the headline gives each timing at the reference machine speed
            metrics = {k: (speed.at_reference(v, u, probe_s), u) for k, (v, u) in measured.items()}
            _history(state_dir, args.workload, metrics["job_s"][0])
    sidecar["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    side_path = os.path.join(base, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}.json")
    with open(side_path, "w") as f:
        json.dump(sidecar, f, indent=1, default=str)

    stamp = sidecar["quiet"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} nproc={n_cores} heap={heap_mb}m "
          f"quiet={stamp['quiet']}{'' if stamp['quiet'] else ' (' + stamp['reason'] + ')'}")
    for k, (v, u) in metrics.items():
        raw = sidecar.get("measured_metrics", {}).get(k)
        print(f"{k} = {v:.6g} {u}" + (f"  (measured {raw['value']:.6g} {u})" if raw else ""))
    print(f"speed.probe_s = {probe_s:.4g} s (reference {speed.REF_PROBE_S} s, "
          f"factor {speed.speed_factor(probe_s):.4g})")
    if out is not None and not traced:
        print(f"  (job_s is {out['job']} on {args.workload})")
    print(f"fail_rate = {sidecar['fail_rate']:.6g} ({failed}/{ctx.attempted}) correct={correct}")
    if "seq_key_case_diffs" in ctx.detail:
        print(f"check.seq_key_case_diffs = {ctx.detail['seq_key_case_diffs']}")
    for f in ctx.failures:
        print(f"FAILED {f}")
    print(f"sidecar: {os.path.relpath(side_path, ROOT)}")
    headline = {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": stats.sig(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(headline, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
