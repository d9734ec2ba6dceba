"""Vectorized PDF text extraction over a binary column (north_rule
"PDF/layout parse" axis) — same batch/failure contract as the HTML path:
one ``map_batches`` pass, per-row failures become status/error columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pdftext import build_simple_pdf, extract_pdf_text
from .session import map_batches

PDF_RESULT_FIELDS = [
    StructField("pdf_text", StringType(), True),
    StructField("pdf_chars", LongType(), True),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
]


def synthesize_pdfs(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, pdf binary): deterministic one-page PDFs, with
    /FlateDecode compression on every other document so both stream
    decoders run in the oracle-checked path."""

    def columns_of(batch):
        doc_ids = batch.column("doc_id")
        texts = batch.column("text").to_pylist()
        return [
            doc_ids,
            [
                build_simple_pdf([t], compress=bool(i % 2))
                for i, t in zip(doc_ids.to_pylist(), texts)
            ],
        ]

    schema = StructType([StructField("doc_id", LongType()), StructField("pdf", BinaryType())])
    return map_batches(docs.select("doc_id", "text"), schema, columns_of)


def extract_pdf_pages(df: DataFrame, pdf_col="pdf") -> DataFrame:
    """Add (pdf_text, pdf_chars, status, error) to a DataFrame with a PDF
    binary column; the binary column itself is dropped from the output."""
    passthrough = [f for f in df.schema.fields if f.name != pdf_col]
    out_schema = StructType(list(passthrough) + PDF_RESULT_FIELDS)

    def columns_of(batch):
        texts, chars, statuses, errors = [], [], [], []
        for payload in batch.column(pdf_col).to_pylist():
            if payload is None:
                texts.append(None)
                chars.append(None)
                statuses.append("error")
                errors.append("null pdf")
                continue
            try:
                text = extract_pdf_text(payload)
                texts.append(text)
                chars.append(len(text))
                statuses.append("ok")
                errors.append(None)
            except Exception as exc:
                texts.append(None)
                chars.append(None)
                statuses.append("error")
                errors.append(f"{type(exc).__name__}: {exc}")
        passed = [batch.column(f.name) for f in passthrough]
        return passed + [texts, chars, statuses, errors]

    return map_batches(df, out_schema, columns_of)
