"""Link extraction and host-graph construction (operators/weblinks.py)."""

from dug_spark.operators import weblinks


def _mk(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    )


def test_extract_links_order_and_count(spark):
    df = _mk(
        spark,
        [
            (
                "https://a.org/x",
                '<a href="https://b.org/1">x</a><p>t</p><a href="/rel">y</a>',
            ),
            ("https://c.org/y", "<p>no links</p>"),
        ],
    )
    rows = weblinks.extract_links(df).collect()
    assert [(r["url"], r["href"]) for r in rows] == [
        ("https://a.org/x", "https://b.org/1"),
        ("https://a.org/x", "/rel"),
    ]


def test_host_edges_resolution(spark):
    df = _mk(
        spark,
        [
            (
                "https://www.src.org/p",
                '<a href="https://www.abs.org/1">a</a>'
                '<a href="//proto.org/2">b</a>'
                '<a href="/relative">c</a>'
                '<a href="#frag">d</a>'
                '<a href="https://src.org/self">e</a>',
            )
        ],
    )
    edges = {
        (r["src_host"], r["dst_host"])
        for r in weblinks.host_edges(weblinks.extract_links(df)).collect()
    }
    # www stripped on both sides; relative+fragment+self dropped
    assert edges == {("src.org", "abs.org"), ("src.org", "proto.org")}


def test_host_edges_keep_self(spark):
    df = _mk(spark, [("https://s.org/p", '<a href="/rel">a</a>')])
    edges = weblinks.host_edges(
        weblinks.extract_links(df), keep_self=True
    ).collect()
    assert [(r["src_host"], r["dst_host"]) for r in edges] == [
        ("s.org", "s.org")
    ]


def test_host_edges_uppercase_scheme_and_non_link_schemes(spark):
    df = _mk(
        spark,
        [
            (
                "https://src.org/p",
                '<a href="HTTP://UPPER.ORG/1">a</a>'
                '<a href="HTTPS://Mixed.Org/2">b</a>'
                '<a href="mailto:x@y.org">c</a>'
                '<a href="javascript:void(0)">d</a>'
                '<a href="tel:+1-555-000-0000">e</a>',
            )
        ],
    )
    # uppercase schemes parse their own host (RFC 3986 case-insensitive
    # schemes); mailto/javascript/tel are not page links even with
    # keep_self=True — no fabricated self-edges
    edges = {
        (r["src_host"], r["dst_host"])
        for r in weblinks.host_edges(
            weblinks.extract_links(df), keep_self=True
        ).collect()
    }
    assert edges == {("src.org", "upper.org"), ("src.org", "mixed.org")}


def test_extract_links_is_codegen_narrow(spark):
    df = _mk(spark, [("https://a.org", '<a href="https://b.org">x</a>')])
    plan = (
        weblinks.extract_links(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
