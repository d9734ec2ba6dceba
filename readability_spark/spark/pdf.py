"""Vectorized PDF text extraction over a binary column (north_rule
"PDF/layout parse" axis) — same batch/failure contract as the HTML path:
one mapInPandas pass, per-row failures become status/error columns.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pdftext import build_simple_pdf, extract_pdf_text
from .session import prepare_python_worker

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

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pdf": [
                        build_simple_pdf([t], compress=bool(i % 2))
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        build, schema="doc_id long, pdf binary"
    )


def extract_pdf_pages(df: DataFrame, pdf_col="pdf") -> DataFrame:
    """Add (pdf_text, pdf_chars, status, error) to a DataFrame with a PDF
    binary column; the binary column itself is dropped from the output."""
    passthrough = [f for f in df.schema.fields if f.name != pdf_col]
    out_schema = StructType(list(passthrough) + PDF_RESULT_FIELDS)
    pass_cols = [f.name for f in passthrough]
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            texts, chars, statuses, errors = [], [], [], []
            for payload in pdf[pdf_col]:
                if payload is None:
                    texts.append(None)
                    chars.append(None)
                    statuses.append("error")
                    errors.append("null pdf")
                    continue
                try:
                    text = extract_pdf_text(bytes(payload))
                    texts.append(text)
                    chars.append(len(text))
                    statuses.append("ok")
                    errors.append(None)
                except Exception as exc:
                    texts.append(None)
                    chars.append(None)
                    statuses.append("error")
                    errors.append(f"{type(exc).__name__}: {exc}")
            out = pdf[pass_cols].copy() if pass_cols else pd.DataFrame(index=pdf.index)
            out["pdf_text"] = texts
            out["pdf_chars"] = pd.array(chars, dtype="Int64")
            out["status"] = statuses
            out["error"] = errors
            yield out[out_cols]

    return df.mapInPandas(run, schema=out_schema)
