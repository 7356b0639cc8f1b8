"""The search/query pipeline — /api/search semantics over the products view
(SURVEY.md §3.1, §2.4 D13-D16, §2.6 A1-A5, §2.7 O1-O5, §2.1 S7-S8).

All sorts carry the deterministic ``seq`` tie-break (Python's list.sort is
stable, so the reference's ordering ties resolve to prior (store, page)
order — SURVEY §3.1 item 4; ``seq`` encodes exactly that order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from price_crawler_spark.operators.matcher import similarity_col
from price_crawler_spark.operators.predicates import is_standalone


def filter_relevant(
    products: DataFrame,
    query: str,
    threshold: float = 0.2,
    standalone_only: bool = False,
) -> DataFrame:
    """ProductMatcher.filter_relevant_products (product_matcher.py:198-224):
    similarity >= threshold; optional standalone filter (is_bundle column
    first, keyword heuristic as fallback when it's null); sorted by
    similarity desc, stable by seq."""
    df = products.withColumn(
        "similarity_score", similarity_col(query, "product_name")
    ).filter(F.col("similarity_score") >= F.lit(threshold))
    if standalone_only:
        keep = F.when(
            F.col("is_bundle").isNotNull(), ~F.col("is_bundle")
        ).otherwise(is_standalone("product_name"))
        df = df.filter(keep)
    return df.orderBy(F.desc("similarity_score"), F.asc("seq"))


def apply_filters_and_sort(
    df: DataFrame,
    sort_by: str = "price",
    order: str = "asc",
    in_stock_only: bool = False,
    min_price: float | None = None,
    max_price: float | None = None,
) -> DataFrame:
    """main.py:256-288 parity."""
    if in_stock_only:
        df = df.filter("in_stock")
    if min_price is not None:
        df = df.filter(F.col("price") >= min_price)
    if max_price is not None:
        df = df.filter(F.col("price") <= max_price)
    key = {
        "price": F.col("price"),
        "name": F.lower(F.col("product_name")),
        "store": F.col("store"),
    }.get(sort_by)
    if key is not None:
        direction = key.desc() if order.lower() == "desc" else key.asc()
        df = df.orderBy(direction, F.asc("seq"))
    return df


def search(
    products: DataFrame,
    query: str,
    sort_by: str = "price",
    order: str = "asc",
    in_stock_only: bool = False,
    standalone_only: bool = False,
    min_price: float | None = None,
    max_price: float | None = None,
    threshold: float = 0.2,
) -> DataFrame:
    """Full /api/search pipeline (main.py:158-246) minus the HTTP envelope."""
    relevant = filter_relevant(products, query, threshold, standalone_only)
    return apply_filters_and_sort(
        relevant, sort_by, order, in_stock_only, min_price, max_price
    )


# ---- cache-hit refiltering (J4, main.py:173-188) -------------------------------

# cached rows = the relevance-filtered products incl. their similarity score
# and the deterministic seq tie-break (so a re-sort on a hit reproduces the
# reference's stable ordering).
_CACHED_RESULT_SCHEMA = (
    "store string, product_name string, price double, url string, "
    "in_stock boolean, currency string, image_url string, "
    "specifications string, is_bundle boolean, doc_id string, seq string, "
    "similarity_score double"
)


def result_payload(df: DataFrame) -> str:
    """Serialize a relevance-filtered search result for ``QueryCache.set``.
    Driver-side by design: the reference caches the whole SearchResult dict
    (cache.py:70-74), which is UI-sized by the per-store caps (O3)."""
    import json

    cols = [f.split()[0] for f in _CACHED_RESULT_SCHEMA.split(", ")]
    rows = [r.asDict() for r in df.select(*cols).collect()]
    return json.dumps(rows, ensure_ascii=False)


def search_cached(
    spark: SparkSession,
    payload: str,
    sort_by: str = "price",
    order: str = "asc",
    in_stock_only: bool = False,
    min_price: float | None = None,
    max_price: float | None = None,
) -> DataFrame:
    """Cache-HIT path parity (main.py:173-188): the reference re-applies
    ``apply_filters_and_sort`` — with the CURRENT request's sort/filter
    params — to the cached rows and returns them without re-crawling or
    re-scoring (similarity_score rides along from the cached payload)."""
    import json

    rows = json.loads(payload)
    df = spark.createDataFrame(rows, schema=_CACHED_RESULT_SCHEMA)
    return apply_filters_and_sort(
        df, sort_by, order, in_stock_only, min_price, max_price
    )


# ---- aggregations (A1-A5) ----------------------------------------------------

def price_stats(df: DataFrame) -> DataFrame:
    """A1 (streamlit_app.py:383-408): min/max/avg/spread over in-stock rows."""
    return (
        df.filter("in_stock")
        .agg(
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
            F.round(F.avg("price"), 4).alias("avg_price"),
            (F.max("price") - F.min("price")).alias("price_spread"),
            F.count("*").alias("n"),
        )
    )


def store_stats(df: DataFrame, all_stores: list[str]) -> DataFrame:
    """A2 (main.py:137-150): successful = stores with >=1 row; failed = the
    rest of the registry."""
    spark = df.sparkSession
    dim = spark.createDataFrame([(s,) for s in all_stores], ["store"])
    counts = df.groupBy("store").agg(F.count("*").alias("n"))
    return dim.join(counts, "store", "left").select(
        "store",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.when(F.coalesce("n", F.lit(0)) > 0, "ok").otherwise("failed").alias(
            "status"
        ),
    )


def filter_stats(before: DataFrame, after: DataFrame) -> dict:
    """A4 (README.md:203-208): before/after counts + filter rate string."""
    b, a = before.count(), after.count()
    rate = 0.0 if b == 0 else 100.0 * (1 - a / b)
    return {"before": b, "after": a, "filter_rate": f"{rate:.1f}%"}


# ---- pagination / top-k (O3-O4) -----------------------------------------------

def paginate(df: DataFrame, page: int, per_page: int, order_cols=("seq",)) -> DataFrame:
    """O4 (streamlit_app.py:269-310). Page 1 (by far the hottest request)
    plans as TakeOrderedAndProject via orderBy().limit() — no global window.
    Deeper pages keep the row_number slice, which single-partitions the
    input: acceptable ONLY because paginate is a UI-tail operator over an
    already-filtered result set (bounded-input contract); never reuse it on
    an unbounded table."""
    start = (page - 1) * per_page
    if start == 0:
        return df.orderBy(*[F.col(c) for c in order_cols]).limit(per_page)
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > start) & (F.col("_rn") <= start + per_page))
        .drop("_rn")
    )


def per_store_topk(df: DataFrame, k_by_store: dict[str, int], default_k: int = 50) -> DataFrame:
    """O3: per-store result caps in page order (seq)."""
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(s, k) for s, k in k_by_store.items()], ["store", "k"]
    )
    w = Window.partitionBy("store").orderBy("seq")
    return (
        df.join(F.broadcast(dim), "store", "left")
        .withColumn("k", F.coalesce("k", F.lit(default_k)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("k"))
        .drop("_rn", "k")
    )


# ---- CSV export sink (S7) ------------------------------------------------------

def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S7 (streamlit_app.py:370-381): result export. ``single_file`` mirrors
    the reference's one-file download (coalesce(1) — driver-adjacent, only
    for UI-sized results); the default is a parallel multi-part write."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


# ---- query cache (S8, J4) ------------------------------------------------------

class QueryCache:
    """Iceberg-style query_cache table (cache.py:15-87): key =
    md5(lower(query)), TTL expiry via expires_at filter, capacity eviction
    as a retention pass. ``now`` is injected for deterministic tests."""

    def __init__(self, spark: SparkSession, store, ttl_minutes: int = 30, max_size: int = 1000):
        from price_crawler_spark.schemas import QUERY_CACHE_SCHEMA

        self.spark = spark
        self.store = store
        self.ttl_minutes = ttl_minutes
        self.max_size = max_size
        self._schema = QUERY_CACHE_SCHEMA

    def _table(self) -> DataFrame:
        df = self.store.read(self.spark, "query_cache")
        if df is None:
            df = self.spark.createDataFrame([], self._schema)
        return df

    @staticmethod
    def key_col(query_col):
        return F.md5(F.lower(query_col))

    def stats(self, now) -> dict:
        """A5 (cache.py:80-87): live item count + config knobs."""
        live = self._table().filter(F.col("expires_at") > F.lit(now)).count()
        return {
            "items": live,
            "max_size": self.max_size,
            "ttl_minutes": self.ttl_minutes,
        }

    def get(self, query: str, now) -> str | None:
        rows = (
            self._table()
            .filter(
                (F.col("query_hash") == self.key_col(F.lit(query)))
                & (F.col("expires_at") > F.lit(now))
            )
            .orderBy(F.desc("created_at"))
            .limit(1)
            .collect()
        )
        return rows[0]["payload"] if rows else None

    def set(self, query: str, payload: str, now) -> None:
        import datetime

        expires = now + datetime.timedelta(minutes=self.ttl_minutes)
        key = self.key_col(F.lit(query))
        # the placeholder hash is replaced by key_col, the one cache-key
        # expression get() and the overwrite filter also use
        new = self.spark.createDataFrame(
            [("", payload, now, expires)], self._schema
        ).withColumn("query_hash", key)
        merged = (
            self._table()
            .filter(F.col("query_hash") != key)
            .unionByName(new)
            .filter(F.col("expires_at") > F.lit(now))  # expired cleanup
        )
        # capacity eviction: keep newest max_size (cache.py:36-44).
        # DELIBERATELY the package's only unpartitioned global window —
        # safe ONLY because this very eviction bounds the table at
        # max_size (≤1000) rows; do NOT copy the pattern to an unbounded
        # table (use orderBy().limit() / TakeOrderedAndProject there).
        w = Window.orderBy(F.desc("created_at"))
        merged = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.max_size)
            .drop("_rn")
        )
        self.store.commit(tables_replace={"query_cache": merged})
