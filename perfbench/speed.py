"""Machine speed. The box is a few cores of a shared host, and how fast
those cores run changes by up to 2x over minutes with what the host's other
tenants do (set-up and wave times of the same code and inputs moved
together by that factor between runs some minutes apart). A fixed CPU job,
timed on every core before the session starts and after it stops, measures
that speed; when it is far enough from the reference (outside DEAD_BAND),
a run's timings are given at the reference speed.

No Spark import: the probe runs while no JVM is up."""

from __future__ import annotations

import hashlib
import json
import os
import signal
import struct
import time

# the probe's usual median on the 4-core / 15 GB machine the README's figures
# come from; a timing at the reference speed is the time the run would have
# taken with the probe there
REF_PROBE_S = 0.21
# loop length of one probe task: about REF_PROBE_S on one such core
PROBE_STEPS = 250_000
# a probe within this factor of REF_PROBE_S counts as the reference speed:
# between runs a few minutes apart the probe's median moved by up to 15%
# while the crawl's timings moved by a few percent, and the host's swings
# are 1.5-2x
DEAD_BAND = 1.3


def probe_task(seed: int) -> float:
    """A fixed interpreter- and C-library-bound job: an LCG over a dict, a
    sort, JSON and SHA-256. Returns the CPU seconds it took: a core that
    is not running the task (another tenant's burst) adds nothing, while a
    slower core (lower clock, a busy sibling hyperthread) adds to it."""
    t0 = time.process_time()
    x = 12345 + seed
    counts: dict[int, int] = {}
    values = []
    for _ in range(PROBE_STEPS):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        key = x & 4095
        counts[key] = counts.get(key, 0) + 1
        values.append(x % 100_003)
    values.sort()
    text = json.dumps(sorted(counts.items()))
    digest = hashlib.sha256(text.encode() * 64).digest()
    if values[len(values) // 2] + sum(json.loads(text)[7]) + digest[0] < 0:
        raise AssertionError("unreachable: keeps the work observable")
    return time.process_time() - t0


def probe(n_procs: int, reps: int) -> list[float]:
    """CPU seconds of each probe task in ``reps`` rounds of one task on each
    of ``n_procs`` forked processes, all running at once. Every process is
    waited for before this returns, also when it is interrupted."""
    samples = []
    for _ in range(reps):
        children = []
        try:
            for i in range(n_procs):
                r, w = os.pipe()
                pid = os.fork()
                if pid == 0:
                    os.close(r)
                    try:
                        os.write(w, struct.pack("d", probe_task(i)))
                    finally:
                        os._exit(0)
                os.close(w)
                children.append([pid, r])
            for child in children:
                with os.fdopen(child[1], "rb") as f:
                    data = f.read()
                os.waitpid(child[0], 0)
                child[0] = None
                if len(data) != 8:
                    raise RuntimeError("a speed-probe task failed")
                samples.append(struct.unpack("d", data)[0])
        finally:
            for pid, _ in children:
                if pid is not None:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
    return samples


def speed_factor(probe_s: float) -> float:
    """REF_PROBE_S / probe_s, the factor that puts a time measured while
    the probe took ``probe_s`` at the reference speed; 1 when the probe is
    within DEAD_BAND of the reference (or missing)."""
    if probe_s <= 0:
        return 1.0
    factor = REF_PROBE_S / probe_s
    return factor if max(factor, 1 / factor) > DEAD_BAND else 1.0


def at_reference(value: float, unit: str, probe_s: float) -> float:
    """``value`` measured while the probe took ``probe_s``, given at the
    reference speed: times scale by speed_factor, rates by its inverse."""
    factor = speed_factor(probe_s)
    return value / factor if unit.startswith("1/") else value * factor
