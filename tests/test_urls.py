"""URL normalization + host curation (operators/urls.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo2mysql_spark.operators.urls import (
    host_blocklist_filter,
    host_profile,
    normalize_url,
    url_dedup,
    url_host,
)


def _norm(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(normalize_url(F.col("url")).alias("n")).collect()[0].n


def test_normalize_strips_noise(spark):
    assert _norm(spark, "https://www.Example.COM/a/b") == "example.com/a/b"
    assert _norm(spark, "http://example.com/a/b/") == "example.com/a/b"
    assert _norm(spark, "example.com/a#frag") == "example.com/a"
    assert (
        _norm(spark, "https://example.com/a?utm_source=x&id=3&fbclid=zz")
        == "example.com/a?id=3"
    )
    # param order cannot split a dedup group
    assert _norm(spark, "example.com/a?b=2&a=1") == _norm(
        spark, "example.com/a?a=1&b=2"
    )
    # path case is preserved, host case is not
    assert _norm(spark, "HTTP://EXAMPLE.com/CaseSensitive") == "example.com/CaseSensitive"
    # bare host
    assert _norm(spark, "https://www.example.com") == "example.com"


def test_url_host(spark):
    hosts = ["a.b.news.example.co", "example.com", "news.bbc.co.uk", "co.uk"]
    df = spark.createDataFrame(
        [(h, f"{h}/p/q?x=1") for h in hosts], "h string, u string"
    ).select("h", url_host(F.col("u")).alias("host"))
    for r in df.collect():
        assert r.host == r.h


def test_url_dedup_and_host_profile(spark):
    df = spark.createDataFrame(
        [
            (1, "https://www.site.com/x?utm_source=a"),
            (2, "http://site.com/x"),
            (3, "site.com/y"),
            (4, "https://other.org/x"),
        ],
        "doc_id bigint, url string",
    )
    groups = {r.url_norm: (r.doc_id, r.n_docs) for r in url_dedup(df).collect()}
    assert groups["site.com/x"] == (1, 2)
    assert groups["site.com/y"] == (3, 1)
    assert groups["other.org/x"] == (4, 1)
    hosts = {r.host: (r.n_docs, r.n_urls) for r in host_profile(df).collect()}
    assert hosts["site.com"] == (3, 2)
    assert hosts["other.org"] == (1, 1)


def test_host_blocklist_filter(spark):
    df = spark.createDataFrame(
        [(1, "https://spam.biz/a"), (2, "https://ok.com/a")],
        "doc_id bigint, url string",
    )
    bl = spark.createDataFrame([("spam.biz",)], "host string")
    kept = host_blocklist_filter(df, bl).collect()
    assert [r.doc_id for r in kept] == [2]
    assert kept[0].url == "https://ok.com/a"  # original columns untouched
