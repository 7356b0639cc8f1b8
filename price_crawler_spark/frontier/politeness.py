"""Politeness scheduler (SURVEY.md §2.10 C1-C6, §2.5 J5).

Per wave, each host may fetch at most ``floor(wave_seconds / crawl_delay)``
URLs (the reference's REQUEST_DELAY=1 / README's ≥2 s guidance generalized
to a per-host budget from the robots dimension). Selection within a host is
a window-ranked priority queue ordered by ``(priority, seq_key)`` on the
TRUE host.

One path ranks every wave (C6). Each row gets a salt — ``url_hash`` modulo
``salt_buckets`` on a mega host, 0 elsewhere. A pre-rank within
(host, salt) keeps ≤ quota rows per bucket, then the exact final rank per
host runs over those survivors only, so no single task ever sorts a mega
host's full backlog. Each bucket keeps its own top-quota, so the host's
top-quota always survives the pre-rank: the selected set is the plain
per-host rank at any bucket count, and with no mega host (salt 0) the
pre-rank already is that rank. The same salt is the ``host_salt``
fetch-group key on scheduled rows; quota is decided before it splits a
mega host's fetches, so salting can never violate a crawl-delay
(SURVEY §7.3 risk 6).

The robots table is tiny (one row per host) → broadcast join; deny rules
are prefix matches on the URL path evaluated with ``exists()`` over the
broadcast array (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def schedule_wave(
    pending: DataFrame,
    robots: DataFrame,
    wave_seconds: float,
    default_crawl_delay: float = 1.0,
    mega_hosts: list[str] | None = None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split pending frontier rows into (scheduled, deferred, blocked).

    scheduled — fetch this wave (within the host's politeness quota), with
                its ``host_salt`` fetch-group key
    deferred  — stay pending for the next wave (over quota)
    blocked   — robots-denied (terminal status)
    """
    joined = pending.join(F.broadcast(robots), "host", "left").withColumn(
        "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(default_crawl_delay))
    )

    path = F.regexp_replace(
        F.col("canonical_url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", ""
    )

    # standard robots semantics: the LONGEST matching rule wins, Allow
    # beats Disallow on equal length
    def _longest_match(rules: F.Column) -> F.Column:
        return F.aggregate(
            F.coalesce(rules, F.array().cast("array<string>")),
            F.lit(0),
            lambda acc, r: F.greatest(
                acc, F.when(path.startswith(r), F.length(r)).otherwise(F.lit(0))
            ),
        )

    deny_len = _longest_match(F.col("deny"))
    allow_len = _longest_match(F.col("allow"))
    joined = joined.withColumn("_denied", deny_len > allow_len)

    blocked = (
        joined.filter("_denied")
        .withColumn("status", F.lit("blocked"))
        .drop("allow", "deny", "crawl_delay", "_denied")
    )
    allowed = joined.filter(~F.col("_denied")).drop("allow", "deny", "_denied")

    quota = F.greatest(
        F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay")), F.lit(1)
    )
    salt = F.when(
        F.col("host").isin(mega_hosts or []),
        F.pmod(F.col("url_hash"), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))
    by_salt = Window.partitionBy("host_salt").orderBy("priority", "seq_key")
    by_host = Window.partitionBy("host").orderBy("priority", "seq_key")
    scheduled = (
        allowed.withColumn(
            "host_salt", F.concat_ws("#", F.col("host"), salt.cast("string"))
        )
        .withColumn("_rank", F.row_number().over(by_salt))
        .filter(F.col("_rank") <= quota)
        .withColumn("_rank", F.row_number().over(by_host))
        .filter(F.col("_rank") <= quota)
        .drop("_rank")
    )
    # deferred = everything allowed but not selected (url_hash is unique in
    # pending); an anti-join against the small scheduled set instead of
    # ranking the full backlog
    deferred = allowed.join(
        scheduled.select("url_hash"), "url_hash", "left_anti"
    ).drop("crawl_delay")
    return scheduled, deferred, blocked
