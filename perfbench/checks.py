"""Correctness checks. Crawls are compared with the pure-Python reference
crawler ``tests/oracle_crawler.oracle_crawl``; search results with their
own earlier digests and with the filters they were asked for.

Engine state is read through the engine's public inspection API
(``crawl_order``, ``documents``, ``frontier``, ``fetch_log`` and the
store's ``read``), after the timed window."""

from __future__ import annotations

import hashlib
import json
import os


def compare_order(got: list[tuple], want: list[tuple]) -> tuple[bool, int]:
    """Crawl order ``(wave, seq_key, doc_id, store)``, seq_key compared as a
    hex value: the engine writes uppercase hex digits, the oracle lowercase.
    Returns (equal, positions whose seq_key differs only in case)."""
    if len(got) != len(want):
        return False, 0
    equal, case_diffs = True, 0
    for (gw, gk, gd, gs), (ww, wk, wd, ws) in zip(got, want):
        if gk != wk and gk.lower() == wk.lower():
            case_diffs += 1
        if (gw, gk.lower(), gd, gs) != (ww, wk.lower(), wd, ws):
            equal = False
    return equal, case_diffs


def _spans(row) -> list[tuple]:
    return [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in sorted(row["spans"], key=lambda s: s["offset"])
    ]


def latest_docs(run) -> tuple[dict, dict]:
    """doc_id -> spans of its latest fetch (``documents()`` keeps every
    re-fetch, so a doc_id can appear once per fetch), and doc_id -> number
    of fetches."""
    latest: dict[str, tuple[int, list]] = {}
    fetches: dict[str, int] = {}
    for r in run.documents().select("doc_id", "wave", "spans").collect():
        fetches[r["doc_id"]] = fetches.get(r["doc_id"], 0) + 1
        if r["doc_id"] not in latest or r["wave"] > latest[r["doc_id"]][0]:
            latest[r["doc_id"]] = (r["wave"], _spans(r))
    return {d: s for d, (_, s) in latest.items()}, fetches


def fetch_counts(run, doc_ids: list[str]) -> dict[str, int]:
    """How many times each of ``doc_ids`` has been fetched and committed."""
    docs = run.documents()
    rows = docs.where(docs["doc_id"].isin(doc_ids)).groupBy("doc_id").count().collect()
    return {r["doc_id"]: r["count"] for r in rows}


def seen_state(run, spark) -> dict:
    """The URL-seen set (canonical URLs in the frontier) and whether the
    exact seen table holds each frontier hash exactly once."""
    frontier = run.frontier().select("canonical_url", "url_hash", "status").collect()
    seen = [r[0] for r in run.store.read(spark, "seen").select("url_hash").collect()]
    frontier_hashes = {r["url_hash"] for r in frontier}
    return {
        "urls": {r["canonical_url"] for r in frontier},
        "blocked": {r["canonical_url"] for r in frontier if r["status"] == "blocked"},
        "seen_table_exact": len(seen) == len(set(seen)) and set(seen) == frontier_hashes,
    }


def check_crawl(run, spark, oracle: dict) -> dict:
    """Crawl order, URL-seen set, blocked set and span sequences equal the
    oracle's after the same number of waves."""
    order = [tuple(r) for r in run.crawl_order().collect()]
    order_ok, case_diffs = compare_order(order, oracle["fetch_order"])
    docs, fetches = latest_docs(run)
    st = seen_state(run, spark)
    return {
        "crawl_order": order_ok,
        "url_seen_set": st["urls"] == oracle["seen"] and st["seen_table_exact"],
        "blocked_set": st["blocked"] == oracle["blocked"],
        "span_sequences": all(fetches[d] == 1 for d in fetches)
        and {d: [tuple(e) for e in oracle["docs"][d]] for d in oracle["docs"]} == docs,
        "seq_key_case_diffs": case_diffs,
        "fetched_rows": sum(fetches.values()),
    }


def check_recrawl(run, spark, invalidated: set[str], full: dict, quota: dict, default_quota: int) -> dict:
    """After ``invalidate()`` and the waves that re-fetch: every
    invalidated URL fetched exactly twice (one re-fetch) and every other
    URL once; every latest document's spans equal the oracle's; the seen
    set stays exact and inside the oracle's full crawl; no host exceeds its
    politeness quota in any wave."""
    docs, fetches = latest_docs(run)
    st = seen_state(run, spark)
    over_quota = [
        (r["wave"], r["host"], r["n_scheduled"])
        for r in run.fetch_log().collect()
        if r["n_scheduled"] > quota.get(r["host"], default_quota)
    ]
    want = {d: [tuple(e) for e in s] for d, s in full["docs"].items()}
    return {
        "one_refetch_each": all(
            fetches.get(d, 0) == (2 if d in invalidated else 1)
            for d in set(fetches) | invalidated
        ),
        "span_sequences": all(want.get(d) == s for d, s in docs.items()),
        "url_seen_set": st["urls"] <= full["seen"] and st["seen_table_exact"],
        "politeness_quota": not over_quota,
        "fetched_rows": sum(fetches.values()),
    }


def digest(rows: list) -> str:
    return hashlib.sha256(
        json.dumps(rows, ensure_ascii=False, default=str).encode()
    ).hexdigest()[:16]


class DigestBook:
    """Result digests keyed by request, kept in a file under the benchmark's
    work directory so later runs in the same checkout must reproduce them."""

    def __init__(self, path: str):
        self.path = path
        self.book: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as f:
                self.book = json.load(f)

    def check(self, key: str, value: str) -> bool:
        """True when ``value`` equals the digest first recorded for ``key``."""
        return self.book.setdefault(key, value) == value

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.book, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def search_laws(rows: list, in_stock_only: bool, min_price, max_price, threshold: float) -> bool:
    """What every /api/search answer must satisfy: the requested stock and
    price filters, the similarity threshold, ascending price order."""
    prices = [r["price"] for r in rows]
    priced = [p for p in prices if p is not None]
    return (
        all(r["in_stock"] for r in rows if in_stock_only)
        and all(p >= min_price for p in priced if min_price is not None)
        and all(p <= max_price for p in priced if max_price is not None)
        and all(r["similarity_score"] >= threshold for r in rows)
        # ascending, nulls first (Spark's default for asc)
        and prices[len(prices) - len(priced):] == priced
        and all(a <= b for a, b in zip(priced, priced[1:]))
    )
