"""The workloads. Each makes its inputs from the workload seed, sets up
(timed, several times: once before the units, the rest after them), runs
its timed unit until ``--seconds`` have passed (at least once), and checks
every unit's outputs.

End-to-end metrics are the same five for every workload; what each one
counts on each workload is listed in perfbench/README.md. The price
read path (extraction and search) runs in traced ``bulk_crawl`` runs only,
on documents from the oracle crawl; see :func:`read_path`.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from perfbench import checks, health, stats
from perfbench.tracing import Tracer, traced_engine

SETUP_REPS = 3

# extra products in the synthetic web's catalog, named "Xpanded GPU000000"
# on; read by the engine at import, so it is set before the session starts.
# A 4-digit prefix query such as gpu0012 matches 100 names, enough to fill
# every store's 50-result page; 2000 names give 20 such prefixes.
CATALOG_N = 2000
PREFIXES = CATALOG_N // 100

BULK = {"broad": 10, "narrow": 2, "waves": 2, "wave_seconds": 1e6, "salt_buckets": 64}
POLITE = {"queries": 10, "wave_seconds": 6.0, "waves_before": 1, "invalidate": 8, "max_refetch_waves": 3}
PRICE = {
    # documents come from the oracle crawl of these fixed queries, so the
    # extraction input is the same for every seed and every engine change
    "crawl_queries": ["RTX 40", "RX 9070"],
    "searches": 1,
    "threshold": 0.2,
}

SEARCH_TERMS = [
    "RTX 4090", "RTX 4080 SUPER", "RTX 4060 Ti 16GB", "RX 9070 XT", "RX 9070",
    "ASUS ROG RTX", "MSI Gaming X Trio", "GIGABYTE WINDFORCE", "Intel Core i9",
    "AMD Ryzen 9 7950X3D", "GPU000012 16GB", "Xpanded GPU000105", "RTX 5090 32GB",
    "TUF RTX 5070", "gpu0002", "16GB GDDR6",
]


def shuffle_partitions(workload: str, cores: int) -> int:
    # throughput mode runs the fetch stage late-bound at 4 tasks per core;
    # polite mode keeps the session factory's default
    return 4 * cores if workload == "bulk_crawl" else max(cores, 8)


def _oracle():
    from tests.oracle_crawler import oracle_crawl

    return oracle_crawl


class Ctx:
    """One run's session, work directory, tracer and collected results."""

    def __init__(self, spark, work: str, cores: int, seconds: float, tracer: Tracer | None, state_dir: str):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.seconds = seconds
        self.tr = tracer
        self.state_dir = state_dir
        self.event_log = os.path.join(work, "eventlog")
        self.setup_samples: list[float] = []
        self.checks: list[dict] = []
        self.failures: list[str] = []
        self.failed_units: set[str] = set()
        self.attempted = 0
        self.detail: dict = {}
        self._n = 0

    def new_dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{name}{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed(self, name: str, fn, run=None):
        """Wall seconds of ``fn()``; in a traced run, inside a root span and
        with the engine wrappers installed around ``run``'s calls."""
        if self.tr is None:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.tr.span(name):
            if run is None:
                out = fn()
            else:
                with traced_engine(self.tr, run):
                    out = fn()
        wall = time.perf_counter() - t0
        self.tr.release()
        return out, wall

    def fail(self, unit: str, why: str) -> None:
        """Count ``unit`` as failed (once, however many of its checks fail)."""
        self.failed_units.add(unit)
        self.failures.append(f"{unit}: {why}")

    def record_check(self, unit: str, result: dict, part: str = "") -> None:
        passed = all(v for v in result.values() if isinstance(v, bool))
        self.checks.append({"unit": unit + part, "passed": passed, **result})
        if not passed:
            self.fail(unit, part + " " + ",".join(k for k, v in result.items() if v is False))


# -- crawls -------------------------------------------------------------------


def bulk_inputs(seed: int) -> list[str]:
    """Broad 4-digit prefixes (100 catalog names each, so every store page
    is full at 50 results) plus narrow 5-digit prefixes nested inside two
    of them: their child links repeat the broad queries' children."""
    rng = random.Random(f"bulk_crawl:{seed}")
    broad = rng.sample(range(PREFIXES), BULK["broad"])
    narrow = [f"gpu00{b:02d}{rng.randrange(5)}" for b in rng.sample(broad, BULK["narrow"])]
    return [f"gpu00{b:02d}" for b in broad] + narrow


def polite_inputs(seed: int) -> list[str]:
    rng = random.Random(f"polite_recrawl:{seed}")
    return [f"gpu00{b:02d}" for b in rng.sample(range(PREFIXES), POLITE["queries"])]


def _seeded_runs(ctx: Ctx, queries: list[str], n: int, **kw) -> list:
    """Set-up: a fresh CrawlRun over ``queries`` with its seed frontier
    committed, ``n`` times; each set-up's wall is one ``setup_s`` sample."""
    from price_crawler_spark.frontier.wave import CrawlRun

    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        run = CrawlRun(ctx.spark, ctx.new_dir("store"), queries, **kw)
        # the engine's own seed step, which the first run_wave would
        # otherwise run inside the timed window
        run._init_if_needed()
        ctx.setup_samples.append(time.perf_counter() - t0)
        runs.append(run)
    return runs


def _more_setups(ctx: Ctx, queries: list[str], **kw) -> None:
    """The rest of the SETUP_REPS set-ups, made after the timed units (the
    first one is made before them and crawled): each is a ``setup_s``
    sample, none is crawled. Making them last keeps the run short, because
    set-ups on a JVM the units have warmed are quick."""
    while len(ctx.setup_samples) < SETUP_REPS:
        _seeded_runs(ctx, queries, 1, **kw)


def _waves(ctx: Ctx, run, n: int, walls: list[float]) -> None:
    """Up to ``n`` timed waves (fewer when the frontier drains); appends
    each wave's wall to ``walls``."""
    for _ in range(n):
        more, wall = ctx.timed("wave.run_wave", run.run_wave, run)
        walls.append(wall)
        if not more:
            break


def _transport_cpu(ctx: Ctx, run) -> None:
    """Traced runs: CPU seconds of the synthetic transport alone (page
    synthesis plus the JSON the fetch UDF ships), single process, over the
    URLs the unit fetched; added up in ``detail["transport_cpu_s"]``."""
    from price_crawler_spark.sources.synthetic import synthesize_page

    if ctx.tr is None:
        return
    fetched = run.documents().select("doc_id", "store").collect()
    t0 = time.process_time()
    for url, store in fetched:
        page = synthesize_page(store, url)
        json.dumps(
            [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in page["spans"]],
            ensure_ascii=False,
        )
        json.dumps(page["links"])
    ctx.detail["transport_cpu_s"] = ctx.detail.get("transport_cpu_s", 0.0) + time.process_time() - t0


def _crawl_health(run, kind: str) -> dict:
    if kind == "cuckoo":
        return health.store_health(run.store.root, "cuckoo")
    return health.store_health(run.store.root, "bloom", run.bloom.m, run.bloom.k)


def bulk_crawl(ctx: Ctx, seed: int) -> dict:
    from price_crawler_spark.frontier.seeds import STORE_HOST

    queries = bulk_inputs(seed)
    kw = {
        "wave_seconds": BULK["wave_seconds"],
        "salt_buckets": BULK["salt_buckets"],
        "mega_hosts": sorted(STORE_HOST.values()),
    }
    oracle = _oracle()(queries, wave_seconds=BULK["wave_seconds"], max_waves=BULK["waves"])
    runs = _seeded_runs(ctx, queries, 1, **kw)
    units, waves, fetched, health_last = [], [], 0, {}
    deadline = time.perf_counter() + ctx.seconds
    while not units or time.perf_counter() < deadline:
        run = runs.pop() if runs else _seeded_runs(ctx, queries, 1, **kw)[0]
        ctx.attempted += 1
        walls: list[float] = []
        try:
            _waves(ctx, run, BULK["waves"], walls)
            result = checks.check_crawl(run, ctx.spark, oracle)
            health_last = _crawl_health(run, "bloom")
            _transport_cpu(ctx, run)
        except Exception as e:  # a unit that raises counts as failed
            ctx.fail(f"crawl{len(units)}", f"{type(e).__name__}: {e}")
            units.append({"crawl_s": sum(walls), "waves_s": walls, "error": str(e)})
            continue
        ctx.record_check(f"crawl{len(units)}", result)
        fetched += result["fetched_rows"]
        waves += walls
        units.append({"crawl_s": sum(walls), "waves_s": walls, "fetched": result["fetched_rows"]})
    _more_setups(ctx, queries, **kw)
    crawl_wall = sum(u["crawl_s"] for u in units)
    ok_units = [u for u in units if "error" not in u]
    ctx.detail.update(
        queries=queries,
        units=units,
        health=health_last,
        seq_key_case_diffs=sum(c.get("seq_key_case_diffs", 0) for c in ctx.checks),
    )
    traced_wall = crawl_wall
    if ctx.tr is not None:
        traced_wall += read_path(ctx, seed)
    return {
        "urls_per_s": fetched / crawl_wall if crawl_wall else 0.0,
        "wave_p50_s": stats.median(waves),
        "job_s": stats.median([u["crawl_s"] for u in ok_units]),
        "job": "crawl_s",
        "traced_wall_s": traced_wall,
        "waves": waves,
    }


def polite_recrawl(ctx: Ctx, seed: int) -> dict:
    from price_crawler_spark.sources.synthetic import robots_rows

    queries = polite_inputs(seed)
    ws = POLITE["wave_seconds"]
    quota = {r["host"]: max(1, int(ws // r["crawl_delay"])) for r in robots_rows()}
    kw = {"wave_seconds": ws, "seen_filter": "cuckoo"}
    oracle = _oracle()
    before = oracle(queries, wave_seconds=ws, max_waves=POLITE["waves_before"])
    full = oracle(queries, wave_seconds=ws, max_waves=10_000)
    rng = random.Random(f"polite_recrawl:{seed}:invalidate")
    slice_ = sorted(rng.sample([c for _w, _k, c, _s in before["fetch_order"]], POLITE["invalidate"]))
    runs = _seeded_runs(ctx, queries, 1, **kw)
    units, waves, fetched, busy, health_last = [], [], 0, 0.0, {}
    deadline = time.perf_counter() + ctx.seconds
    while not units or time.perf_counter() < deadline:
        run = runs.pop() if runs else _seeded_runs(ctx, queries, 1, **kw)[0]
        name = f"recrawl{len(units)}"
        ctx.attempted += 1
        walls: list[float] = []
        try:
            _waves(ctx, run, POLITE["waves_before"], walls)
            pre = checks.check_crawl(run, ctx.spark, before)
            n_inv, inv_s = ctx.timed("wave.invalidate", lambda: run.invalidate(slice_), run)
            refetch = []
            for _ in range(POLITE["max_refetch_waves"]):
                _waves(ctx, run, 1, refetch)
                counts = checks.fetch_counts(run, slice_)
                if all(counts.get(c, 0) >= 2 for c in slice_):
                    break
            post = checks.check_recrawl(run, ctx.spark, set(slice_), full, quota, int(ws))
            post["invalidated_all"] = n_inv == len(slice_)
            health_last = _crawl_health(run, "cuckoo")
            _transport_cpu(ctx, run)
        except Exception as e:
            ctx.fail(name, f"{type(e).__name__}: {e}")
            units.append({"error": str(e)})
            continue
        ctx.record_check(name, pre, ".before")
        ctx.record_check(name, post, ".after")
        fetched += post["fetched_rows"]
        waves += walls + refetch
        busy += sum(walls) + inv_s + sum(refetch)
        units.append({
            "waves_before_s": walls, "invalidate_s": inv_s, "refetch_waves_s": refetch,
            "recrawl_s": inv_s + sum(refetch), "fetched": post["fetched_rows"],
        })
    _more_setups(ctx, queries, **kw)
    ctx.detail.update(
        queries=queries,
        invalidated=slice_,
        units=units,
        health=health_last,
        seq_key_case_diffs=sum(c.get("seq_key_case_diffs", 0) for c in ctx.checks),
    )
    ok_units = [u for u in units if "error" not in u]
    return {
        "urls_per_s": fetched / busy if busy else 0.0,
        "wave_p50_s": stats.median(waves),
        "job_s": stats.median([u["recrawl_s"] for u in ok_units]),
        "job": "recrawl_s",
        "traced_wall_s": busy,
        "waves": waves,
    }


# -- price search ---------------------------------------------------------------


def price_inputs(seed: int) -> list[dict]:
    """Seed-chosen searches: a term, and a mix of in-stock-only and price
    bounds."""
    rng = random.Random(f"price_search:{seed}")
    out = []
    for term in rng.sample(SEARCH_TERMS, PRICE["searches"]):
        lo = rng.choice([None, 5000.0, 15000.0])
        hi = rng.choice([None, 30000.0, 60000.0])
        out.append({"query": term, "in_stock_only": rng.random() < 0.5, "min_price": lo, "max_price": hi})
    return out


def _docs_rows() -> list[dict]:
    oracle = _oracle()(PRICE["crawl_queries"], wave_seconds=1e6)
    return [
        {
            "doc_id": canon,
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in oracle["docs"][canon]
            ],
            "store": store,
            "wave": wave,
            "seq_key": key,
        }
        for wave, key, canon, store in oracle["fetch_order"]
    ]


def read_path(ctx: Ctx, seed: int) -> float:
    """The price-comparison read path, traced: ``extract_products`` once
    over a documents table built from the oracle crawl of fixed queries (so
    no crawl change alters its input), then seed-chosen ``search()`` calls
    in a closed loop with one client. Results must match their digests from
    earlier runs in this checkout and obey the requested filters. Returns
    the traced wall."""
    from price_crawler_spark.frontier.fetch import SPANS_JSON_SCHEMA
    from price_crawler_spark.operators.extraction import extract_products
    from price_crawler_spark.operators.search import search

    schema = f"doc_id string, spans {SPANS_JSON_SCHEMA}, store string, wave int, seq_key string"
    path = ctx.new_dir("documents")
    ctx.spark.createDataFrame(_docs_rows(), schema).write.parquet(path)
    docs = ctx.spark.read.parquet(path)
    book = checks.DigestBook(os.path.join(ctx.state_dir, "price_digests.json"))
    tag = json.dumps([CATALOG_N, PRICE["crawl_queries"]])

    def extract():
        p = extract_products(docs).persist()
        return p, p.count()

    ctx.attempted += 1
    (products, n_products), wall = ctx.timed("extraction.extract", extract)
    traced = wall
    got = checks.digest(sorted(
        [list(r) for r in products.select("store", "product_name", "price", "in_stock", "url").collect()],
        key=str,
    ))
    ctx.record_check("extract", {"products_digest": book.check(f"products|{tag}", got)})
    returned = []
    for i, req in enumerate(price_inputs(seed)):
        ctx.attempted += 1
        out, wall = ctx.timed(
            "search.query",
            lambda: search(products, threshold=PRICE["threshold"], **req).collect(),
        )
        traced += wall
        returned.append(len(out))
        keyed = [[r["store"], r["product_name"], r["price"], r["in_stock"], r["similarity_score"]] for r in out]
        ctx.record_check(f"search{i}", {
            "digest": book.check(f"search|{tag}|{json.dumps(req, sort_keys=True)}", checks.digest(keyed)),
            "laws": checks.search_laws(out, req["in_stock_only"], req["min_price"], req["max_price"], PRICE["threshold"]),
        })
    products.unpersist()
    book.save()
    ctx.detail.update(products_rows=n_products, rows_returned=returned)
    return traced


WORKLOADS = {"bulk_crawl": bulk_crawl, "polite_recrawl": polite_recrawl}
