"""PDF text extraction (readability_spark/pdftext.py + spark/pdf.py)."""

from __future__ import annotations

import sys
import zlib
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from readability_spark.pdftext import (
    build_simple_pdf,
    escape_pdf_string,
    extract_pdf_text,
)


class TestExtractor:
    def test_roundtrip_plain_and_compressed(self):
        lines = ["First line.", "Second, with commas.", "Third"]
        for compress in (False, True):
            assert extract_pdf_text(build_simple_pdf(lines, compress)) == "\n".join(lines)

    def test_escapes_roundtrip(self):
        lines = ["Parens (nested (deep)) and \\ backslash", "tab\tand\nnewline"]
        assert extract_pdf_text(build_simple_pdf(lines)) == "\n".join(lines)

    def test_hex_strings_and_tj_arrays(self):
        blob = (
            b"%PDF-1.4\n1 0 obj << /Length 64 >>\nstream\n"
            b"BT [(Ker) -20 (ned)] TJ <48454C4C4F> Tj ET\nendstream endobj\n%%EOF"
        )
        assert extract_pdf_text(blob) == "Kerned\nHELLO"

    def test_octal_escape(self):
        blob = (
            b"%PDF-1.4\n1 0 obj << /Length 32 >>\nstream\n"
            b"BT (A\\101B) Tj ET\nendstream endobj\n%%EOF"
        )
        assert extract_pdf_text(blob) == "AAB"

    def test_quote_operator(self):
        blob = (
            b"%PDF-1.4\n1 0 obj << /Length 32 >>\nstream\n"
            b"BT (line) ' ET\nendstream endobj\n%%EOF"
        )
        assert extract_pdf_text(blob) == "line"

    def test_unsupported_filter_skipped(self):
        blob = (
            b"%PDF-1.4\n1 0 obj << /Length 8 /Filter /DCTDecode >>\nstream\n"
            b"\xff\xd8\xff\xe0xxxx\nendstream endobj\n%%EOF"
        )
        assert extract_pdf_text(blob) == ""

    def test_corrupt_flate_skipped(self):
        blob = (
            b"%PDF-1.4\n1 0 obj << /Length 8 /Filter /FlateDecode >>\nstream\n"
            b"notflate\nendstream endobj\n%%EOF"
        )
        assert extract_pdf_text(blob) == ""

    def test_non_pdf_raises(self):
        with pytest.raises(ValueError):
            extract_pdf_text(b"<html>nope</html>")

    def test_escape_helper(self):
        assert escape_pdf_string("a(b)c\\d") == "a\\(b\\)c\\\\d"

    def test_compressed_stream_really_compressed(self):
        lines = ["some text that should compress away entirely " * 3]
        pdf = build_simple_pdf(lines, compress=True)
        assert b"compress away" not in pdf  # bytes are actually deflated
        assert zlib  # (imported for clarity)
        assert extract_pdf_text(pdf) == lines[0]


class TestSparkPdf:
    @pytest.fixture(scope="class")
    def spark(self):
        from readability_spark.spark.session import get_spark

        spark = get_spark(app_name="pdf-tests", master="local[2]", conf={"spark.sql.shuffle.partitions": "2"})
        yield spark
        spark.stop()

    def test_synthesize_extract_roundtrip(self, spark):
        from readability_spark.spark.pdf import extract_pdf_pages, synthesize_pdfs

        docs = spark.createDataFrame(
            [(0, "alpha bravo"), (1, "charlie (delta)"), (2, "echo \\ foxtrot")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in extract_pdf_pages(synthesize_pdfs(docs)).collect()}
        assert all(r.status == "ok" for r in out.values())
        assert out[0].pdf_text == "alpha bravo"
        assert out[1].pdf_text == "charlie (delta)"
        assert out[2].pdf_text == "echo \\ foxtrot"
        assert out[1].pdf_chars == len("charlie (delta)")

    def test_corrupt_pdf_isolated(self, spark):
        from readability_spark.spark.pdf import extract_pdf_pages

        df = spark.createDataFrame(
            [(1, b"%PDF-1.4 garbage with no streams"), (2, b"not a pdf"), (3, None)],
            "doc_id long, pdf binary",
        )
        rows = {r.doc_id: r for r in extract_pdf_pages(df).collect()}
        assert rows[1].status == "ok" and rows[1].pdf_text == ""  # no streams -> empty
        assert rows[2].status == "error" and "not a PDF" in rows[2].error
        assert rows[3].status == "error"
