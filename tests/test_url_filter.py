"""URL blocklist filter: host parsing, suffix semantics, plan shape."""

import pytest
from pyspark.sql import functions as F

from featuregenerator_spark.operators.url_filter import (
    filter_blocklisted,
    host_suffixes,
    registrable_domain,
    url_host,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "https://ads7.example.com/banner?id=1"),
        (1, "http://cdn.tracker.net/px.gif"),
        (2, "https://docs.spark.apache.org/latest/"),
        (3, "https://user:pw@mirror.spam-mill.biz:8080/dl"),
        (4, "https://NotTracker.net/page"),      # must NOT match tracker.net
        (5, "https://a.b.tracker.net/deep#frag"),
        (6, "not a url at all"),
        (7, "ftp://EN.Wikipedia.ORG/wiki"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


BLOCK = ("tracker.net", "ads7.example.com", "spam-mill.biz")


def test_url_host_normalization(spark, docs):
    got = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id", url_host(F.col("url")).alias("h")
        ).collect()
    }
    assert got[3] == "mirror.spam-mill.biz"   # userinfo + port stripped
    assert got[7] == "en.wikipedia.org"       # lowercased, any scheme
    assert got[6] == ""                       # non-URL -> empty


def test_registrable_domain(spark):
    df = spark.createDataFrame(
        [("a.b.c.net",), ("example.org",), ("localhost",)], "h string"
    )
    got = [r["d"] for r in df.select(registrable_domain(F.col("h")).alias("d")).collect()]
    assert got == ["c.net", "example.org", ""]


def test_host_suffixes(spark):
    df = spark.createDataFrame([("a.b.net",)], "h string")
    got = df.select(host_suffixes(F.col("h")).alias("s")).first()["s"]
    assert got == ["a.b.net", "b.net", "net"]


def test_blocklist_suffix_semantics(spark, docs):
    out = {
        r["doc_id"]: r["blocked"]
        for r in filter_blocklisted(docs, BLOCK).collect()
    }
    assert out == {
        0: True,    # exact registrable-domain block
        1: True,    # subdomain of tracker.net
        2: False,
        3: True,    # behind userinfo+port
        4: False,   # nottracker.net is NOT a dot-suffix match
        5: True,    # multi-level subdomain
        6: False,   # unparseable -> not blocked (kept for later stages)
        7: False,
    }


def test_blocklist_join_is_broadcast_equijoin(spark, docs):
    """Rule matching must be a broadcast hash equijoin on the suffix,
    not a nested-loop of endswith predicates."""
    plan = (
        filter_blocklisted(docs, BLOCK)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocklist_keeps_null_urls_and_duplicate_rows(spark):
    """The audit form keeps EVERY input row: a NULL URL is one unblocked
    row (not dropped by the suffix explode), and two identical rows stay
    two rows (not merged by the fold)."""
    rows = [
        (1, None),
        (2, "https://cdn.tracker.net/x"),
        (2, "https://cdn.tracker.net/x"),
        (3, "https://ok.example.org/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = sorted(
        (r["doc_id"], r["url"], r["host"], r["blocked"])
        for r in filter_blocklisted(df, BLOCK).collect()
    )
    assert out == [
        (1, None, None, False),
        (2, "https://cdn.tracker.net/x", "cdn.tracker.net", True),
        (2, "https://cdn.tracker.net/x", "cdn.tracker.net", True),
        (3, "https://ok.example.org/", "ok.example.org", False),
    ]
