"""Fetch stage — vectorized per-host batches (SURVEY.md §2.1 S1-S2).

``applyInPandas`` grouped by ``host_salt``: one Arrow batch per host (per
salt bucket of a mega host) per wave, processed in (priority, seq_key) order — the distributed analogue of the
reference's per-host connection pool + inter-request delay
(base_scraper.py:30-95). In production the body of ``_fetch_batch`` holds an
HTTP session per group (UA rotation via ``pmod(xxhash64(url), n_ua)``,
retry/backoff, encoding fallback chain utf-8→big5→gb2312); in this sandbox
the transport is the deterministic synthetic web
(:mod:`price_crawler_spark.sources.synthetic`) — same shape, same failure
semantics (deterministic transient timeouts honoring MAX_RETRIES=2,
config.py:17).

Spans/links cross the Arrow boundary as JSON strings and are parsed
JVM-side with ``from_json`` into the typed spans array — keeps the UDF
schema flat and the nested parse in codegen.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from price_crawler_spark.sources.synthetic import fetch_fails, synthesize_page

SPANS_JSON_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# S2 — UA rotation pool, data parity with config.py:36-41.
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:109.0) Gecko/20100101 Firefox/119.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36",
]


def ua_for_url(url) -> F.Column:
    """S2 (base_scraper.py:32-33): per-request UA pick. The reference uses
    ``random.choice``; the distributed analogue must be deterministic under
    retries, resume, and any partitioning, so the pick is md5(url)-keyed —
    uniform over the pool, stable per URL, and portable (md5 hashes
    identically in DuckDB for the oracle mirror)."""
    c = F.col(url) if isinstance(url, str) else url
    idx = F.pmod(
        F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long"),
        F.lit(len(USER_AGENTS)),
    )
    return F.element_at(
        F.array(*[F.lit(u) for u in USER_AGENTS]), (idx + 1).cast("int")
    )


def ua_for_url_py(url: str) -> str:
    """Python mirror of :func:`ua_for_url`, used INSIDE the fetch batch (the
    url is already in the Arrow batch — recomputing the pick there costs one
    md5 per request instead of widening every fetch batch by a ~115 B
    column). Parity with the Column version is pytest-gated."""
    import hashlib

    h = int(hashlib.md5(url.encode("utf-8")).hexdigest()[:12], 16)
    return USER_AGENTS[h % len(USER_AGENTS)]

# ---------------------------------------------------------------------------
# S1 live transport seam (env-gated; base_scraper.py:60-95 parity)
# ---------------------------------------------------------------------------
# Setting PCS_LIVE_TRANSPORT=1 swaps the synthetic transport for a real
# requests-based body: one Session per host group (the applyInPandas batch
# IS a host group), per-URL deterministic UA header (S2), timeout (C5),
# retry ≤ MAX_RETRIES with uniform(1, 2*REQUEST_DELAY) backoff (C3/C4), and
# the utf-8→big5→gb2312→ignore decode chain. The sandbox has no network (and
# no requests install is attempted unless the flag is set), so the live path
# is exercised by unit tests through a mocked session object.

LIVE_TRANSPORT_ENV = "PCS_LIVE_TRANSPORT"
MAX_RETRIES = 2          # config.py:17
REQUEST_DELAY = 1.0      # config.py:16
TIMEOUT_SECONDS = 15.0   # config.py:18
DEFAULT_HEADERS = {
    # base_scraper.py:32-40 (minus UA, which is per-URL)
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Language": "zh-TW,zh;q=0.8,en-US;q=0.5,en;q=0.3",
    "Accept-Encoding": "gzip, deflate",
    "Connection": "keep-alive",
    "Upgrade-Insecure-Requests": "1",
}


def decode_body(raw: bytes) -> str:
    """Encoding fallback chain (base_scraper.py:74-86): utf-8 → big5 →
    gb2312 → utf-8 with errors ignored."""
    for enc in ("utf-8", "big5", "gb2312"):
        try:
            return raw.decode(enc)
        except UnicodeDecodeError:
            continue
    return raw.decode("utf-8", errors="ignore")


def live_fetch_url(
    session,
    url: str,
    *,
    timeout: float = TIMEOUT_SECONDS,
    max_retries: int = MAX_RETRIES,
    request_delay: float = REQUEST_DELAY,
    sleep=None,
    rand_uniform=None,
) -> str | None:
    """One live GET with the reference's retry/backoff/decode semantics
    (base_scraper.py:60-95): ``max_retries`` attempts total, a
    ``uniform(1, 2*request_delay)`` sleep before every retry, HTTP 200 →
    decoded body, non-200 or exception → next attempt, exhausted → None.
    ``sleep``/``rand_uniform`` are injectable for deterministic tests."""
    import random
    import time

    sleep = time.sleep if sleep is None else sleep
    rand_uniform = random.uniform if rand_uniform is None else rand_uniform
    headers = {**DEFAULT_HEADERS, "User-Agent": ua_for_url_py(url)}
    for attempt in range(max_retries):
        try:
            if attempt > 0:
                sleep(rand_uniform(1, request_delay * 2))
            resp = session.get(url, headers=headers, timeout=timeout)
            if resp.status_code == 200:
                return decode_body(resp.content)
            # non-200: fall through to the next attempt (base_scraper.py:88-89)
        except Exception:
            if attempt == max_retries - 1:
                return None
    return None


def live_session():
    """One Session per host group — the distributed analogue of the
    reference's per-host TCPConnector pool (base_scraper.py:43-48).
    Import-guarded: ``requests`` is only needed when the live flag is on."""
    import requests

    return requests.Session()


_EXTRA_FIELDS = [
    T.StructField("ok", T.BooleanType(), False),
    T.StructField("spans_json", T.StringType(), True),
    T.StructField("links_json", T.StringType(), True),
]


def fetch_scheduled(
    sched: DataFrame, fail_hosts: list[str] | None = None
) -> DataFrame:
    """scheduled frontier rows -> rows + (ok, spans_json, links_json).

    Grouped by ``schedule_wave``'s ``host_salt`` key (C6: a mega host's
    quota-selected URLs spread over salt buckets, each bucket one Arrow
    batch; any other host is one group). ``fail_hosts`` is a
    synthetic-transport harness knob: every fetch for those hosts fails
    (persistent-failure drain audit)."""
    fail_set = frozenset(fail_hosts or ())
    keep = [c for c in sched.columns if c not in ("crawl_delay", "host_salt")]
    out_schema = T.StructType(
        [f for f in sched.schema.fields if f.name in keep] + _EXTRA_FIELDS
    )

    def _fetch_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # Politeness order within the host (reference fetches sequentially
        # per host; crawl_delay sleeping happens on the live path). Each live
        # request sends ``ua_for_url_py(url)`` as its UA header (S2) —
        # computed inside :func:`live_fetch_url` from the url already in the
        # batch, never shipped as an extra Arrow column through the hot path.
        import os

        pdf = pdf.sort_values(["priority", "seq_key"]).reset_index(drop=True)
        live = os.environ.get(LIVE_TRANSPORT_ENV) == "1"
        session = live_session() if live else None
        oks, spans_js, links_js = [], [], []
        for url, store, attempts, host in zip(
            pdf["url"], pdf["store"], pdf["attempts"], pdf["host"]
        ):
            if live:
                # live seam: raw body becomes one ('html', body) span; the
                # P1 spans emitter (lxml batch parse) is the documented
                # downstream step that turns it into typed spans.
                body = live_fetch_url(session, url)
                oks.append(body is not None)
                spans_js.append(
                    None
                    if body is None
                    else json.dumps(
                        [{"kind": "html", "text": body, "media_ref": None,
                          "offset": 0}],
                        ensure_ascii=False,
                    )
                )
                links_js.append(None if body is None else "[]")
                continue
            if host in fail_set or fetch_fails(url, int(attempts)):
                oks.append(False)
                spans_js.append(None)
                links_js.append(None)
                continue
            page = synthesize_page(store, url)
            oks.append(True)
            spans_js.append(
                json.dumps(
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for k, t, m, o in page["spans"]
                    ],
                    ensure_ascii=False,
                )
            )
            links_js.append(json.dumps(page["links"]))
        out = pdf[keep].copy()
        out["ok"] = oks
        out["spans_json"] = spans_js
        out["links_json"] = links_js
        return out

    return sched.select(*keep, "host_salt").groupBy("host_salt").applyInPandas(
        _fetch_batch, out_schema
    )


def docs_from_fetched(fetched_ok: DataFrame) -> DataFrame:
    """fetched rows -> documents table rows (input_hint shape + provenance)."""
    return fetched_ok.select(
        F.col("canonical_url").alias("doc_id"),
        F.from_json("spans_json", SPANS_JSON_SCHEMA).alias("spans"),
        "store",
        "wave",
        "seq_key",
    )


def links_from_fetched(fetched_ok: DataFrame) -> DataFrame:
    """Frontier expansion (S4): child URLs with crawl-order seq_keys
    ``parent_seq_key || hex(position)``."""
    exploded = fetched_ok.select(
        "store",
        "query",
        "wave",
        "seq_key",
        F.posexplode(F.from_json("links_json", "array<string>")).alias(
            "pos", "child_url"
        ),
    )
    return exploded.select(
        F.col("child_url").alias("url"),
        "store",
        "query",
        (F.col("wave") + 1).alias("wave"),
        F.concat(
            F.col("seq_key"), F.lpad(F.conv(F.col("pos").cast("string"), 10, 16), 8, "0")
        ).alias("seq_key"),
    )
