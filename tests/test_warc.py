"""WARC source (readability_spark/spark/warc.py): parse, explode, extract."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark.spark.warc import (
    build_warc,
    parse_warc,
    read_warc_pages,
    warc_to_page_rows,
)

RECORDS = [
    ("warcinfo", None, "2026-03-01T00:00:00Z", b"software: test\r\n"),
    (
        "request",
        "https://a.example.com/x.html",
        "2026-03-01T00:00:01Z",
        b"GET /x.html HTTP/1.1\r\n\r\n",
    ),
    (
        "response",
        "https://a.example.com/x.html",
        "2026-03-01T00:00:01Z",
        b"<html><head><title>A</title></head><body><p>Alpha page.</p></body></html>",
    ),
    (
        "response",
        "https://b.example.com/y.html",
        "2026-03-01T00:00:02Z",
        b"<html><body><p>Beta page.</p></body></html>",
    ),
]


class TestParsing:
    @pytest.mark.parametrize("compress", [False, True], ids=["plain", "gzip"])
    def test_roundtrip(self, compress):
        blob = build_warc(RECORDS, compress=compress)
        parsed = list(parse_warc(blob))
        assert len(parsed) == 4
        assert [h["warc-type"] for h, _ in parsed] == [
            "warcinfo", "request", "response", "response",
        ]

    def test_page_rows_filter_responses_and_strip_http(self):
        rows = warc_to_page_rows(build_warc(RECORDS, compress=True))
        assert [r[0] for r in rows] == [
            "https://a.example.com/x.html",
            "https://b.example.com/y.html",
        ]
        assert rows[0][2].startswith(b"<html>")  # HTTP headers stripped
        assert str(rows[0][1]) == "2026-03-01 00:00:01"

    def test_truncated_gzip_is_best_effort(self):
        blob = build_warc(RECORDS, compress=True)
        rows = warc_to_page_rows(blob[: len(blob) - 20])
        assert len(rows) >= 1  # earlier intact members still parse

    @pytest.mark.parametrize("bad", [b"", b"Content-Length: notanumber\r\n"],
                             ids=["missing", "garbage"])
    def test_malformed_content_length_resyncs(self, bad):
        """A record without a usable Content-Length must not desynchronize
        the reader (silently dropping every later record) nor raise: the
        parser scans to the next WARC/ boundary and keeps going."""
        good = build_warc(RECORDS, compress=False)
        broken = (
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n" + bad + b"\r\n"
            b"some stray payload without a length\r\n\r\n" + good
        )
        parsed = list(parse_warc(broken))
        types = [h["warc-type"] for h, _ in parsed]
        assert types[0] == "metadata"
        assert types.count("response") == 2  # every later record recovered
        rows = warc_to_page_rows(broken)
        assert len(rows) == 2


class TestSparkWarc:
    @pytest.fixture(scope="class")
    def spark(self):
        from readability_spark.spark.session import get_spark

        spark = get_spark(app_name="warc-tests", master="local[2]", conf={"spark.sql.shuffle.partitions": "2"})
        yield spark
        spark.stop()

    def test_read_and_extract_end_to_end(self, spark, tmp_path_factory):
        from readability_spark.spark.job import extract_articles

        d = tmp_path_factory.mktemp("warc")
        (d / "crawl-0.warc.gz").write_bytes(build_warc(RECORDS, compress=True))
        (d / "crawl-1.warc").write_bytes(
            build_warc(
                [
                    (
                        "response",
                        "https://c.example.com/z.html",
                        "2026-03-01T00:00:03Z",
                        b"<html><head><title>C</title></head><body><p>Gamma.</p></body></html>",
                    )
                ]
            )
        )
        pages = read_warc_pages(spark, str(d))
        assert pages.count() == 3
        out = {r.url: r for r in extract_articles(pages).collect()}
        assert out["https://a.example.com/x.html"].title == "A"
        assert out["https://a.example.com/x.html"].text_content == "AAlpha page."
        assert out["https://b.example.com/y.html"].text_content == "Beta page."
        assert out["https://c.example.com/z.html"].title == "C"
        assert all(r.status == "ok" for r in out.values())

    def test_warc_ts_is_utc_in_any_session_time_zone(self, spark, tmp_path_factory):
        """warc_ts is the record's UTC instant whatever
        spark.sql.session.timeZone says: the naive times the readers build
        are UTC, never read as session-local, and extract_articles passes
        the column through unchanged."""
        from readability_spark.spark.job import extract_articles
        from readability_spark.spark.pages import pages_from_documents

        d = tmp_path_factory.mktemp("warc_tz")
        (d / "crawl.warc").write_bytes(
            build_warc(
                [("response", "https://a.example.com/x.html", "2024-01-01T10:00:00Z", b"<p>x</p>")]
            )
        )
        docs = spark.createDataFrame(
            [(0, "Zero.", "en", "cc")], "doc_id long, text string, lang string, source string"
        )
        before = spark.conf.get("spark.sql.session.timeZone")
        try:
            for tz in ("UTC", "America/New_York"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                pages = read_warc_pages(spark, str(d))
                [warc] = pages.selectExpr("unix_timestamp(warc_ts) AS ts").collect()
                [page] = pages_from_documents(docs).selectExpr(
                    "unix_timestamp(warc_ts) AS ts"
                ).collect()
                [article] = extract_articles(pages).selectExpr(
                    "unix_timestamp(warc_ts) AS ts"
                ).collect()
                # 2024-01-01T10:00:00Z and doc 0's 2026-01-01T00:00:00Z
                assert (warc.ts, page.ts, article.ts) == (1704103200, 1767225600, 1704103200), tz
        finally:
            spark.conf.set("spark.sql.session.timeZone", before)


def test_wet_rows_local():
    from readability_spark.spark.warc import wet_to_document_rows

    data = build_warc(
        [
            (
                "conversion",
                "https://a.example.com/x.html",
                "2026-03-01T00:00:01Z",
                "Alpha text.\nSecond line.".encode(),
                {"WARC-Identified-Content-Language": "eng,deu"},
            ),
            # warcinfo/request records are skipped
            ("warcinfo", None, "2026-03-01T00:00:00Z", b"software: test"),
            (
                "conversion",
                "https://b.example.com/y.html",
                "2026-03-01T00:00:02Z",
                "Beta.".encode(),
            ),
        ],
        compress=True,
    )
    rows = wet_to_document_rows(data)
    assert len(rows) == 2
    url, ts, text, lang = rows[0]
    assert url == "https://a.example.com/x.html"
    assert text == "Alpha text.\nSecond line."
    assert lang == "eng"  # primary language of the comma list
    assert rows[1][2] == "Beta."
    assert rows[1][3] is None


def test_unparseable_warc_date_keeps_its_row():
    """A bad WARC-Date nulls that record's warc_ts; it neither drops the
    row nor raises, which would fail the whole archive's Spark task."""
    import pandas as pd

    from readability_spark.spark.warc import wet_to_document_rows

    data = build_warc(
        [
            ("conversion", "https://a.example.com/1", "2026-03-01T00:00:01Z", b"One."),
            ("conversion", "https://a.example.com/2", "not-a-date", b"Two."),
            ("conversion", "https://a.example.com/3", "2026-03-01T00:00:03Z", b"Three."),
        ],
        compress=True,
    )
    rows = wet_to_document_rows(data)
    assert [r[0] for r in rows] == [f"https://a.example.com/{i}" for i in (1, 2, 3)]
    assert [r[2] for r in rows] == ["One.", "Two.", "Three."]
    assert str(rows[0][1]) == "2026-03-01 00:00:01"
    assert pd.isna(rows[1][1])
    assert str(rows[2][1]) == "2026-03-01 00:00:03"


class TestWetSpark:
    def test_read_wet_documents(self, tmp_path_factory):
        from readability_spark.spark.session import get_spark
        from readability_spark.spark.warc import read_wet_documents

        spark = get_spark(app_name="wet-tests", master="local[2]", conf={"spark.sql.shuffle.partitions": "2"})
        try:
            d = tmp_path_factory.mktemp("wet")
            (d / "part-0.warc.wet.gz").write_bytes(
                build_warc(
                    [
                        (
                            "conversion",
                            "https://a.example.com/x.html",
                            "2026-03-01T00:00:01Z",
                            b"Alpha text.",
                            {"WARC-Identified-Content-Language": "eng"},
                        )
                    ],
                    compress=True,
                )
            )
            rows = read_wet_documents(spark, str(d)).collect()
            assert len(rows) == 1
            assert rows[0].url == "https://a.example.com/x.html"
            assert rows[0].text == "Alpha text."
            assert rows[0].lang == "eng"
        finally:
            spark.stop()


def test_wat_rows_local():
    """WAT metadata records parse title + links from the public CC JSON
    envelope; malformed JSON and url-less records skip, not crash."""
    import json

    from readability_spark.spark.warc import (
        build_warc,
        build_wat,
        wat_to_metadata_rows,
    )

    wat = build_wat(
        [
            ("https://a.test/1", "2026-03-01T00:00:00Z", "Title One",
             ["/x", "/y"]),
            ("https://a.test/2", "2026-03-01T00:00:00Z", None, []),
        ]
    )
    # append a malformed-JSON metadata record and a non-metadata record
    junk = build_warc(
        [
            ("metadata", "https://a.test/bad", "2026-03-01T00:00:00Z", b"{not json"),
            ("response", "https://a.test/resp", "2026-03-01T00:00:00Z", b"<html></html>"),
        ]
    )
    rows = wat_to_metadata_rows(wat + junk)
    assert [(r[0], r[2], r[3], r[4]) for r in rows] == [
        ("https://a.test/1", "Title One", 2, ["/x", "/y"]),
        ("https://a.test/2", None, 0, []),
    ]
    # envelope shape matches the public spec path
    env = json.loads(
        build_wat([("u", "2026-03-01T00:00:00Z", "t", ["/l"])]).split(b"\r\n\r\n")[1]
        .split(b"\r\n")[0]
    )
    assert env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"
    ]["Head"]["Title"] == "t"


def test_warc_date_offset_converts_to_utc():
    """A WARC-Date with an offset is that instant in UTC, not its wall
    clock read as UTC; a date that is not ISO 8601 gives a null warc_ts."""
    from datetime import datetime

    rows = warc_to_page_rows(
        build_warc(
            [
                ("response", "https://a.example.com/1", "2024-01-01T10:00:00+02:00", b"<p>1</p>"),
                ("response", "https://a.example.com/2", "2024/01/02 10:00", b"<p>2</p>"),
            ]
        )
    )
    assert [r[1] for r in rows] == [datetime(2024, 1, 1, 8, 0), None]
