"""WARC container source (sources/warc_parser.py): from-spec framing,
gzip members, HTTP block split, and the lift to the BASELINE corpus
shape."""

import gzip

import pytest

from dug_spark.sources import warc_parser as wp


def _page(i: int) -> bytes:
    return f"<html><body><p>page {i} text</p></body></html>".encode()


def _segment(ids) -> bytes:
    return b"".join(
        wp.build_warc_record(
            f"https://w{i % 3}.org/p/{i}", f"2020-01-01T00:00:{i:02d}Z", _page(i)
        )
        for i in ids
    )


def test_parse_warc_column_roundtrip(spark):
    seg = _segment(range(4)) + wp.build_warc_record(
        "https://meta.org", "2020-01-01T00:01:00Z", b"not html",
        record_type="metadata", content_type="application/warc-fields",
    )
    df = spark.createDataFrame([(seg,)], "content binary")
    rows = (
        wp.parse_warc_column(df, record_types=())
        .orderBy("warc_ts")
        .collect()
    )
    assert len(rows) == 5
    assert rows[0]["url"] == "https://w0.org/p/0"
    assert bytes(rows[0]["html"]) == _page(0)
    assert rows[0]["http_status"] == 200
    assert rows[0]["content_type"] == "text/html"
    assert rows[4]["record_type"] == "metadata"
    assert rows[4]["http_status"] is None
    # default record_types drops the metadata record
    assert wp.parse_warc_column(df).count() == 4


def test_parse_warc_gzip_members(spark):
    seg = b"".join(
        gzip.compress(
            wp.build_warc_record(
                f"https://g.org/{i}", "2021-05-05T05:05:05Z", _page(i)
            )
        )
        for i in range(3)
    )
    df = spark.createDataFrame([(seg,)], "content binary")
    got = wp.parse_warc_column(df).orderBy("url").collect()
    assert [r["url"] for r in got] == [f"https://g.org/{i}" for i in range(3)]
    assert bytes(got[1]["html"]) == _page(1)


def test_payload_may_contain_separator_bytes(spark):
    # Content-Length framing, not separator scanning: a payload holding
    # \r\n\r\n and even a fake "WARC/1.0" line must not split the record
    evil = b"a\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nb"
    seg = wp.build_warc_record(
        "https://e.org", "2020-02-02T00:00:00Z", evil
    ) + wp.build_warc_record("https://f.org", "2020-02-02T00:00:01Z", _page(9))
    df = spark.createDataFrame([(seg,)], "content binary")
    got = {r["url"]: bytes(r["html"]) for r in wp.parse_warc_column(df).collect()}
    assert got == {"https://e.org": evil, "https://f.org": _page(9)}


def test_warc_to_corpus_shape_and_invariant(spark):
    seg = _segment(range(3))
    seg += wp.build_warc_record(  # 404 must drop out of the corpus
        "https://w0.org/missing", "2020-01-01T00:02:00Z", b"nope", http_status=404
    )
    seg += wp.build_warc_record(  # non-html content-type drops too
        "https://w0.org/data.json", "2020-01-01T00:02:01Z", b"{}",
        content_type="application/json",
    )
    df = spark.createDataFrame([(seg,)], "content binary")
    corpus = wp.warc_to_corpus(wp.parse_warc_column(df))
    assert corpus.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = corpus.orderBy("url").collect()
    assert [r["url"] for r in rows] == [f"https://w{i % 3}.org/p/{i}" for i in (0, 1, 2)]
    # the BASELINE per-row invariant: extract_text(html) is the page text
    assert rows[0]["text"] == "page 0 text"
    assert rows[0]["lang"] is None


def test_truncated_tail_tolerated():
    data = _segment([0]) + b"WARC/1.0\r\nWARC-Type: resp"
    assert len(wp.parse_warc_bytes(data)) == 1


def test_registry_lookup():
    from dug_spark.sources import get_parser

    assert get_parser("warc") is wp.read_warc
    with pytest.raises(Exception):
        get_parser("warcx")
