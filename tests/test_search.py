"""Query-layer tests (SURVEY.md §3.1): similarity parity against the actual
reference implementation (loaded read-only from /root/reference as a test
oracle — never imported by engine code), plus the /api/search pipeline,
aggregations, pagination, and query cache."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from price_crawler_spark.operators import matcher
from price_crawler_spark.operators.search import (
    QueryCache,
    apply_filters_and_sort,
    filter_relevant,
    filter_stats,
    paginate,
    per_store_topk,
    price_stats,
    search,
    store_stats,
)
from price_crawler_spark.sources.store import SnapshotStore
from price_crawler_spark.sources.synthetic import CATALOG


def _load_reference_matcher():
    from .refsource import load_module

    return load_module("app/utils/product_matcher.py").ProductMatcher()


QUERIES = ["RTX 4090", "RX 9070", "i9-14900K", "32GB DDR5", "5080", "rtx", "藍寶石"]


def test_similarity_parity_with_reference():
    """Engine similarity() must equal the reference's calculate_similarity
    on every (query, catalog-name) pair."""
    ref = _load_reference_matcher()
    # "" / "  " pin the reference's `"" in pn` quirk: an empty/whitespace
    # query direct-scores 0.3 against every non-empty name (J1 edge, r2
    # VERDICT item 5).
    for q in QUERIES + ["", "  "]:
        for name, _p, _s in CATALOG:
            expected = ref.calculate_similarity(q, name)
            got = matcher.similarity(q, name)
            assert got == pytest.approx(expected, abs=1e-12), (q, name)


def test_standalone_column_matches_reference(spark):
    ref = _load_reference_matcher()
    from price_crawler_spark.operators.predicates import is_standalone

    names = [n for n, _p, _s in CATALOG] + [
        "電競電腦 RTX 4090 + 32G RAM",
        "ASUS ROG strix scar 筆電",
        "RTX 4090 顯示卡",
    ]
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    got = [r[0] for r in df.select(is_standalone(F.col("s"))).collect()]
    assert got == [ref.is_standalone_product(n) for n in names]


@pytest.fixture(scope="module")
def products(spark):
    rows = []
    for i, (name, price, specs) in enumerate(CATALOG):
        rows.append(
            (
                "mockstore",
                name,
                float(price),
                f"https://example.com/p{i}",
                i % 4 != 3,  # some out of stock
                "TWD",
                None,
                specs,
                "套裝" in name,
                f"doc{i}",
                f"{i:08x}",
            )
        )
    schema = (
        "store string, product_name string, price double, url string, "
        "in_stock boolean, currency string, image_url string, "
        "specifications string, is_bundle boolean, doc_id string, seq string"
    )
    return spark.createDataFrame(rows, schema)


def test_search_pipeline_matches_reference_semantics(spark, products):
    """filter_relevant + apply_filters_and_sort ≡ the reference pipeline
    (ProductMatcher.filter_relevant_products + main.apply_filters_and_sort)
    run driver-side on the same rows."""
    ref = _load_reference_matcher()
    pd_rows = [r.asDict() for r in products.orderBy("seq").collect()]

    for q in ["RTX 4090", "RX 9070", "5080"]:
        got = search(
            products, q, sort_by="price", order="asc", in_stock_only=True,
            threshold=0.2,
        ).collect()

        expected = ref.filter_relevant_products(
            q,
            [dict(r) for r in pd_rows],
            threshold=0.2,
            standalone_only=False,
        )
        expected = [p for p in expected if p["in_stock"]]
        expected.sort(key=lambda x: x["price"])  # python stable sort
        assert [r["product_name"] for r in got] == [
            p["product_name"] for p in expected
        ], q
        for g, e in zip(got, expected):
            assert g["similarity_score"] == pytest.approx(
                e["similarity_score"], abs=1e-12
            )


def test_sort_orders(spark, products):
    by_name = apply_filters_and_sort(products, "name", "desc").collect()
    names = [r["product_name"].lower() for r in by_name]
    assert names == sorted(names, reverse=True)
    by_store = apply_filters_and_sort(products, "store", "asc").collect()
    assert len(by_store) == len(CATALOG)


def test_price_range_filter(spark, products):
    got = apply_filters_and_sort(
        products, "price", "asc", min_price=20000, max_price=40000
    ).collect()
    assert all(20000 <= r["price"] <= 40000 for r in got)
    prices = [r["price"] for r in got]
    assert prices == sorted(prices)


def test_price_stats(spark, products):
    row = price_stats(products).collect()[0]
    in_stock = [p for i, (n, p, s) in enumerate(CATALOG) if i % 4 != 3]
    assert row["min_price"] == min(in_stock)
    assert row["max_price"] == max(in_stock)
    assert row["price_spread"] == max(in_stock) - min(in_stock)
    assert row["n"] == len(in_stock)


def test_store_stats(spark, products):
    got = {
        r["store"]: r["status"]
        for r in store_stats(products, ["mockstore", "emptystore"]).collect()
    }
    assert got == {"mockstore": "ok", "emptystore": "failed"}


def test_filter_stats(spark, products):
    after = products.filter("in_stock")
    st = filter_stats(products, after)
    assert st["before"] == len(CATALOG)
    assert st["after"] == after.count()
    assert st["filter_rate"].endswith("%")


def test_paginate(spark, products):
    p1 = paginate(products, 1, 5).collect()
    p2 = paginate(products, 2, 5).collect()
    assert len(p1) == 5 and len(p2) == 5
    assert {r["seq"] for r in p1}.isdisjoint({r["seq"] for r in p2})
    last = paginate(products, 4, 5).collect()
    assert len(last) == len(CATALOG) - 15


def test_per_store_topk(spark, products):
    got = per_store_topk(products, {"mockstore": 3}).collect()
    assert len(got) == 3
    assert [r["seq"] for r in got] == ["00000000", "00000001", "00000002"]


def test_query_cache(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "cache"))
    qc = QueryCache(spark, store, ttl_minutes=30, max_size=2)
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    assert qc.get("RTX 4090", t0) is None
    qc.set("RTX 4090", '{"hits": 1}', t0)
    assert qc.get("RTX 4090", t0) == '{"hits": 1}'
    assert qc.get("rtx 4090", t0) == '{"hits": 1}'  # md5(lower(q)) key
    qc.set("顯示卡 ÄÖ", '{"hits": 2}', t0)  # non-ASCII key round trip
    assert qc.get("顯示卡 äö", t0) == '{"hits": 2}'
    # TTL expiry
    t1 = t0 + datetime.timedelta(minutes=31)
    assert qc.get("RTX 4090", t1) is None
    # capacity eviction keeps newest max_size
    qc.set("a", "1", t0)
    qc.set("b", "2", t0 + datetime.timedelta(minutes=1))
    qc.set("c", "3", t0 + datetime.timedelta(minutes=2))
    assert qc.get("a", t0 + datetime.timedelta(minutes=3)) is None
    assert qc.get("c", t0 + datetime.timedelta(minutes=3)) == "3"


def test_cache_stats(spark, tmp_path):
    import datetime

    from price_crawler_spark.operators.search import QueryCache
    from price_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "cache_stats"))
    cache = QueryCache(spark, store, ttl_minutes=30, max_size=100)
    now = datetime.datetime(2024, 1, 1, 12, 0)
    cache.set("q1", "payload1", now)
    cache.set("q2", "payload2", now)
    s = cache.stats(now)
    assert s == {"items": 2, "max_size": 100, "ttl_minutes": 30}
    # everything expired an hour later
    later = now + datetime.timedelta(hours=1)
    assert cache.stats(later)["items"] == 0


def test_export_csv(spark, products, tmp_path):
    from price_crawler_spark.operators.search import export_csv

    out = str(tmp_path / "csv_out")
    export_csv(products, out, single_file=True)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == products.count()
    assert set(back.columns) == set(products.columns)


def test_cache_hit_refiltering(spark, products):
    """J4 cache-hit path (main.py:173-188): a hit re-applies
    apply_filters_and_sort with the CURRENT request's params to the cached
    rows — no crawl, no similarity recompute (the hit plan carries no
    Arrow/Python UDF node)."""
    from price_crawler_spark.operators.search import (
        result_payload,
        search,
        search_cached,
    )

    first = search(products, "RTX 4090", sort_by="price", order="asc")
    payload = result_payload(first)

    # same params → identical rows
    again = search_cached(spark, payload, sort_by="price", order="asc")
    assert again.collect() == first.collect()

    # different sort + stock filter → re-filtered/re-sorted cached rows
    refiltered = search_cached(
        spark, payload, sort_by="price", order="desc", in_stock_only=True
    )
    rows = refiltered.collect()
    base = [r for r in first.collect() if r["in_stock"]]
    assert sorted(rows, key=lambda r: (-r["price"], r["seq"])) == rows
    assert {r["product_name"] for r in rows} == {r["product_name"] for r in base}

    # the hit plan must not re-run the similarity UDF
    plan = refiltered._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
