"""Checks over the ``__spark_entry__.queries()`` entries.

Closed forms: every entry at sf0.001 must match its ``oracle_sql()`` twin
in DuckDB on row count, columns and order-insensitive value hash (the same
comparison as tools/check_oracles.py).

Degenerate-input robustness: every batch query in ``queries()`` must run
(not crash) against a ZERO-ROW corpus with the production schema.

A 10^12-document pipeline hits empty inputs constantly — the first run of
an incremental job, a source that produced nothing this snapshot, a
partition pruned to nothing — and an AnalysisException there pages
someone at 3am.  Queries may return empty results or NULL-scored rows;
they may not raise.  (Streaming queries drive their own synthesized
sources and are exercised in test_stream_extract.py.)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_oracles import TABLES, compare, duckdb_views  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402

SRC_SF = "/root/testdata/sf0.001"
CATALOG = Path(__file__).resolve().parents[1] / "QUERIES.md"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="empty-corpus-tests", master="local[8]", conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        duckdb.sql(
            f"COPY (SELECT * FROM '{SRC_SF}/{t}.parquet' LIMIT 0) "
            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def test_every_query_matches_its_oracle(spark):
    assert sorted(entry.oracle_sql()) == sorted(entry.queries())
    listed = re.findall(r"^\| `(\w+)` \|", CATALOG.read_text(), re.M)
    assert sorted(listed) == sorted(entry.queries()), "regenerate QUERIES.md"
    con = duckdb_views(SRC_SF)
    failures = [
        name for name in entry.queries() if not compare(spark, con, name, SRC_SF)[0]
    ]
    assert not failures, failures


def test_every_batch_query_survives_empty_corpus(spark, empty_sf):
    failures = []
    for name, fn in entry.queries().items():
        if name.startswith("stream_"):
            continue
        try:
            fn(spark, empty_sf).collect()
        except Exception as e:  # noqa: BLE001 — we report them all at once
            failures.append(f"{name}: {type(e).__name__}")
    assert not failures, failures
