"""Tier-2 golden end-to-end tests over a DataFrame (FIXTURES.md section 3)
plus Tier-4 skew/resume tests.

Invariants:
1. byte-identical text_content (and all metadata fields) per url between the
   Spark pipeline and the locally-computed golden corpus;
2. row count preserved (every url exactly once, ok or error);
3. malformed rows -> status != 'ok', null article fields; other families ok;
4. determinism: two runs produce identical tables;
5. resume: a partially-committed run finishes without recomputing done
   partitions, and the resumed table equals a clean full run.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StructField, StructType

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from conftest import CRASH_POINTS, InjectedCrash, crash_run_job
from readability_spark.fixtures import build_rows, golden_for
from readability_spark.spark.job import extract_articles, run_job
from readability_spark.spark.session import get_spark, map_batches, prepare_python_worker

# 97 families: 9/20 of rows cycle the 96 non-plain families, so the >=3-
# per-family invariant needs N_ROWS*9/20 >= 3*96 = 288; 660 gives 297
# (slack for three more families before this needs raising again)
N_ROWS = 660


@pytest.fixture(scope="module")
def spark():
    spark = get_spark(app_name="golden-tests", master="local[8]", conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def fixture_rows():
    return build_rows(N_ROWS)


@pytest.fixture(scope="module")
def pages_df(spark, fixture_rows):
    data = [(r.url, r.warc_ts, r.html, r.text, r.lang, r.family) for r in fixture_rows]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string, family string"
    )


@pytest.fixture(scope="module")
def extracted(spark, pages_df):
    return {r.url: r for r in extract_articles(pages_df).collect()}


ARTICLE_COLS = (
    "title byline dir excerpt lang published_time site_name text_content length content"
).split()


def test_row_count_preserved(extracted, fixture_rows):
    assert len(extracted) == len(fixture_rows)
    assert set(extracted) == {r.url for r in fixture_rows}


def test_byte_identical_golden(extracted, fixture_rows):
    golden = golden_for(fixture_rows)
    mismatches = []
    for r in fixture_rows:
        got = extracted[r.url]
        want_article, want_status, _ = golden[r.url]
        if got.status != want_status:
            mismatches.append((r.url, "status", got.status, want_status))
            continue
        if want_article is None:
            continue
        for col in ARTICLE_COLS:
            want = getattr(want_article, col)
            have = getattr(got, col)
            if col in ("text_content", "content") and want is not None and have is not None:
                same = want.encode("utf-8") == have.encode("utf-8")
            else:
                same = want == have
            if not same:
                mismatches.append((r.url, col, repr(have)[:80], repr(want)[:80]))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_family_statuses(extracted, fixture_rows):
    for r in fixture_rows:
        got = extracted[r.url]
        if r.family == "malformed":
            assert got.status == "error", r.url
            assert got.text_content is None and got.title is None
        else:
            assert got.status == "ok", (r.url, got.error)


def test_every_family_present(fixture_rows):
    from collections import Counter

    from readability_spark.fixtures import FAMILIES

    counts = Counter(r.family for r in fixture_rows)
    assert len(counts) == len(FAMILIES) == 97
    assert min(counts.values()) >= 3


def test_determinism(spark, pages_df, extracted):
    second = {r.url: r for r in extract_articles(pages_df).collect()}
    assert set(second) == set(extracted)
    for url, row in extracted.items():
        a = {k: v for k, v in row.asDict().items() if k != "extract_ms"}
        b = {k: v for k, v in second[url].asDict().items() if k != "extract_ms"}
        assert a == b, url


def test_resume_without_recompute(spark, pages_df, tmp_path):
    out1, lin1 = str(tmp_path / "a1"), str(tmp_path / "l1")
    rep = run_job(spark, pages_df, out1, lin1, run_id="t", num_partitions=8, salt_n=2, commit_groups=2)
    assert rep.partitions_processed == 8
    assert rep.docs == N_ROWS

    # noop resume
    rep2 = run_job(spark, pages_df, out1, lin1, run_id="t", num_partitions=8, salt_n=2, commit_groups=2)
    assert rep2.partitions_processed == 0
    assert spark.read.parquet(out1).count() == N_ROWS  # no duplicates

    # simulated crash: keep only half the lineage + matching output
    out2, lin2 = str(tmp_path / "a2"), str(tmp_path / "l2")
    spark.read.parquet(lin1).filter(F.col("partition_id") < 4).write.parquet(lin2)
    spark.read.parquet(out1).filter(F.col("partition_id") < 4).write.partitionBy(
        "partition_id"
    ).parquet(out2)
    rep3 = run_job(spark, pages_df, out2, lin2, run_id="t", num_partitions=8, salt_n=2, commit_groups=2)
    assert rep3.partitions_done_previously == 4
    assert rep3.partitions_processed == 4

    clean = sorted(
        (r.url, r.text_content, r.status)
        for r in spark.read.parquet(out1).select("url", "text_content", "status").collect()
    )
    resumed = sorted(
        (r.url, r.text_content, r.status)
        for r in spark.read.parquet(out2).select("url", "text_content", "status").collect()
    )
    assert clean == resumed


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_resume_after_crash_leaves_one_row_per_url(spark, pages_df, tmp_path, monkeypatch, point):
    """A run that dies at any commit point and is resumed has exactly one
    output row per url: a commit group whose output write landed but whose
    lineage did not is re-run, and its write replaces its own partitions."""
    out, lin = str(tmp_path / "a"), str(tmp_path / "l")
    args = dict(run_id="x", num_partitions=8, salt_n=2, commit_groups=2)
    with monkeypatch.context() as m:
        crash_run_job(m, point)
        with pytest.raises(InjectedCrash):
            run_job(spark, pages_df, out, lin, **args)
    rep = run_job(spark, pages_df, out, lin, **args)
    assert rep.partitions_done_previously == 4 and rep.partitions_processed == 4
    per_url = spark.read.parquet(out).groupBy("url").count()
    assert per_url.count() == N_ROWS
    assert per_url.filter("count != 1").count() == 0


def test_file_uri_lineage_resumes(spark, pages_df, tmp_path, monkeypatch):
    """A ``file:`` lineage ref is written where it is read: the second run
    resumes instead of failing after its first output append, and no
    literal ``file:`` directory appears in the working directory."""
    monkeypatch.chdir(tmp_path)
    out, lin = str(tmp_path / "a"), f"file:{tmp_path}/lin"
    for expected in (4, 0):
        rep = run_job(spark, pages_df, out, lin, run_id="f", num_partitions=4, salt_n=1, commit_groups=2)
        assert rep.partitions_processed == expected
    per_url = spark.read.parquet(out).groupBy("url").count()
    assert per_url.count() == N_ROWS
    assert per_url.filter("count != 1").count() == 0
    assert not [p.name for p in tmp_path.iterdir() if p.name.startswith("file:")]


@pytest.mark.parametrize("param", ["num_partitions", "salt_n", "commit_groups"])
def test_run_job_rejects_counts_below_one(spark, pages_df, tmp_path, param):
    """A count below 1 is an error, not a successful run that processes
    nothing and writes no lineage."""
    out, lin = tmp_path / "a", tmp_path / "l"
    counts = {"num_partitions": 4, "salt_n": 2, "commit_groups": 2, param: 0}
    with pytest.raises(ValueError, match=param):
        run_job(spark, pages_df, str(out), str(lin), run_id="v", **counts)
    assert not out.exists() and not lin.exists()


def test_corrupt_lineage_fails_loudly(spark, pages_df, tmp_path):
    """A truncated lineage parquet (crash mid-write before the atomic rename
    existed) must NOT be silently treated as a fresh run — that would
    recompute already-committed partitions.  And in-flight '.tmp' files are
    invisible to the resume read (the crash-safe write contract)."""
    from readability_spark.spark.job import LineageCorruptError, completed_partitions

    out, lin = str(tmp_path / "a"), str(tmp_path / "l")
    run_job(spark, pages_df, out, lin, run_id="c", num_partitions=4, salt_n=2, commit_groups=1)

    # a leftover dot-prefixed temp file is ignored by the resume read
    (Path(lin) / ".lineage-deadbeef.parquet.tmp").write_bytes(b"garbage")
    assert completed_partitions(spark, lin, "c") == {0, 1, 2, 3}

    # a truncated *committed-named* file fails loudly instead of recomputing
    (Path(lin) / "lineage-corrupt.parquet").write_bytes(b"PAR1garbage")
    with pytest.raises(LineageCorruptError):
        completed_partitions(spark, lin, "c")

    # missing lineage dir is still just "fresh run"
    assert completed_partitions(spark, str(tmp_path / "nope"), "c") == set()


def test_leaf_node_attrs_immutable():
    """Leaf (TEXT/COMMENT) nodes alias a shared read-only attrs singleton —
    mutating one must raise, not contaminate every leaf in the worker."""
    from readability_spark import dom

    doc = dom.parse_document(b"<p>hello</p>")
    text_node = dom.select(doc, "p")[0].children[0]
    assert text_node.kind == dom.TEXT
    with pytest.raises((TypeError, AttributeError)):
        text_node.set_attr("x", "1")
    assert dict(text_node.attrs) == {}


def test_lineage_schema_and_metrics(spark, pages_df, tmp_path):
    out, lin = str(tmp_path / "a"), str(tmp_path / "l")
    run_job(spark, pages_df, out, lin, run_id="m", num_partitions=4, salt_n=2, commit_groups=1)
    lineage = spark.read.parquet(lin)
    assert set(lineage.columns) == {
        "run_id", "partition_id", "status", "docs", "ok", "failed",
        "started_at", "finished_at", "docs_per_sec",
    }
    rows = lineage.collect()
    assert len(rows) == 4
    assert sum(r.docs for r in rows) == N_ROWS
    assert sum(r.failed for r in rows) > 0  # malformed family rows recorded
    assert all(r.docs_per_sec is None or r.docs_per_sec > 0 for r in rows)
    # path lineage reads back with LINEAGE_SCHEMA's types (timestamp, not
    # timestamp_ntz), as table lineage does
    from readability_spark.spark.job import LINEAGE_SCHEMA

    assert [(f.name, f.dataType) for f in lineage.schema.fields] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA.fields
    ]


def test_resume_over_mixed_lineage_timestamp_types(spark, tmp_path):
    """A lineage directory holding one file with timezone-naive timestamps
    (written before path lineage used LINEAGE_SCHEMA's arrow types) and one
    written now still resumes: both partitions count as committed."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readability_spark.spark.job import _append_lineage, completed_partitions

    lin = tmp_path / "lineage"
    lin.mkdir()
    now = datetime.datetime(2026, 3, 1, 0, 0, 1)
    naive = pa.schema(
        [("run_id", pa.string()), ("partition_id", pa.int32()), ("status", pa.string()),
         ("docs", pa.int64()), ("ok", pa.int64()), ("failed", pa.int64()),
         ("started_at", pa.timestamp("us")), ("finished_at", pa.timestamp("us")),
         ("docs_per_sec", pa.float64())]
    )
    old_row = ["r", 0, "ok", 1, 1, 0, now, now, 1.0]
    pq.write_table(
        pa.Table.from_pylist([dict(zip(naive.names, old_row))], schema=naive),
        lin / "lineage-old.parquet",
    )
    _append_lineage(spark, [("r", 1, "ok", 1, 1, 0, now, now, 1.0)], str(lin))
    assert len(list(lin.glob("*.parquet"))) == 2
    assert completed_partitions(spark, str(lin), "r") == {0, 1}


def test_scored_extraction_matches_local_golden(spark, pages_df, fixture_rows):
    """Tier-2 for the Arc90 scoring pass: the Spark path with
    content_extraction=True is byte-identical per url to the local
    (Tier-1-verified) extractor under the same options."""
    from readability_spark.options import Options

    opts = Options(content_extraction=True, min_text_length=0)
    got = {r.url: r for r in extract_articles(pages_df, options=opts).collect()}
    golden = golden_for(fixture_rows, options=opts)
    mismatches = []
    for r in fixture_rows:
        want_article, want_status, _ = golden[r.url]
        have = got[r.url]
        if have.status != want_status:
            mismatches.append((r.url, "status", have.status, want_status))
            continue
        if want_article is None:
            continue
        for col in ("text_content", "content", "title", "length"):
            if getattr(have, col) != getattr(want_article, col):
                mismatches.append((r.url, col))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_fix_relative_uris_spark_plumbing(spark, pages_df, fixture_rows, tmp_path):
    """With Options(fix_relative_uris=True), extract_articles and run_job
    resolve each row's URIs against that row's own ``url`` column,
    byte-identical per url to the local extractor given the same base.
    Some fixture rows change with a base URL, so a path that dropped the
    base would fail here; a frame without ``url`` is rejected up front."""
    from readability_spark.options import Options
    from readability_spark.pipeline import extract_row

    opts = Options(fix_relative_uris=True)
    want, changed = {}, 0
    for r in fixture_rows:
        want[r.url] = extract_row(r.html, options=opts, base_url=r.url)
        article = want[r.url][0]
        unfixed = extract_row(r.html, options=opts)[0]
        if article is not None and article.content != unfixed.content:
            changed += 1
    assert changed > 0  # else this test could not see a missing base URL

    got = {r.url: r for r in extract_articles(pages_df, options=opts).collect()}
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    run_job(spark, pages_df, out, lin, run_id="u", num_partitions=4, salt_n=1,
            commit_groups=1, options=opts)
    job = {
        r.url: r
        for r in spark.read.parquet(out).select("url", "status", "content").collect()
    }
    for rows in (got, job):
        assert len(rows) == len(fixture_rows)
        for url, (want_article, want_status, _) in want.items():
            have = rows[url]
            assert have.status == want_status, url
            assert have.content == (want_article and want_article.content), url

    with pytest.raises(ValueError, match="url"):
        extract_articles(pages_df.drop("url"), options=opts)


def test_readerable_flags_spark(spark, pages_df):
    """readerable_flags agrees with the local is_probably_readerable and
    yields one row per input url."""
    from readability_spark.readerable import is_probably_readerable
    from readability_spark.spark.job import readerable_flags

    rows = readerable_flags(pages_df).collect()
    assert len(rows) == pages_df.count()
    html_by_url = {r["url"]: r["html"] for r in pages_df.select("url", "html").collect()}
    for row in rows[:50]:
        try:
            ok, score = is_probably_readerable(html_by_url[row.url])
            ok, score = ok, round(score, 4)
        except Exception:
            ok, score = None, None
        assert (row.readerable, row.readerable_score) == (ok, score)


def test_hot_domain_spreads_across_partitions_and_salts(spark, pages_df):
    """Tier-4 skew: the 40%-hot-domain corpus must spread ~uniformly over
    the url-hash partition space (url hashing, not domain hashing) and the
    deterministic salt must subdivide the hot domain across all salt
    values — the properties the north_rule's salting requirement is about."""
    from readability_spark.spark.job import with_partition_id, with_salt

    n_parts, n_salts = 8, 4
    hot = with_salt(with_partition_id(pages_df, n_parts), n_salts).filter(
        F.col("url").contains("hot.example.com")
    )
    per_part = {r.partition_id: r.cnt for r in
                hot.groupBy("partition_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = sum(per_part.values())
    assert total > 0
    assert len(per_part) == n_parts, "hot domain must hit every partition"
    assert max(per_part.values()) <= 2 * (total / n_parts), "no partition hoards the hot domain"
    salts = {r.salt for r in hot.select("salt").distinct().collect()}
    assert salts == set(range(n_salts)), "salt must subdivide the hot domain fully"
    # determinism: same url always gets the same (partition, salt)
    again = with_salt(with_partition_id(pages_df, n_parts), n_salts)
    a = {r.url: (r.partition_id, r.salt) for r in again.select("url", "partition_id", "salt").collect()}
    b = {r.url: (r.partition_id, r.salt) for r in hot.select("url", "partition_id", "salt").collect()}
    assert all(a[u] == b[u] for u in b)


def test_article_columns_projection(spark, pages_df, extracted):
    """Projection pushdown into the UDF: pruned run skips content entirely
    but every surviving column is byte-identical to the full run."""
    pruned = extract_articles(
        pages_df, article_columns=("title", "text_content", "length", "lang")
    )
    cols = set(pruned.columns)
    assert "content" not in cols and "byline" not in cols
    assert {"title", "text_content", "length", "lang", "status", "error"} <= cols
    rows = {r.url: r for r in pruned.collect()}
    assert set(rows) == set(extracted)
    for url, full in extracted.items():
        p = rows[url]
        assert (p.title, p.text_content, p.length, p.lang, p.status) == (
            full.title, full.text_content, full.length, full.lang, full.status,
        ), url


def test_article_columns_unknown_rejected(spark, pages_df):
    with pytest.raises(ValueError, match="unknown article columns"):
        extract_articles(pages_df, article_columns=("text_content", "nope"))


def test_want_content_skips_serialization():
    """Local-tier check: want_content=False leaves content None and every
    other Article field identical."""
    from readability_spark.pipeline import extract

    html = "<html><body><p>Hello&nbsp;world <b>bold</b></p><p>More.</p></body></html>"
    full = extract(html)
    lean = extract(html, want_content=False)
    assert lean.content is None and full.content is not None
    for f in ("byline", "dir", "excerpt", "lang", "length",
              "published_time", "site_name", "text_content", "title"):
        assert getattr(lean, f) == getattr(full, f), f


def test_lineage_scheme_paths_not_treated_as_local(spark, tmp_path):
    """Single-slash scheme URIs (dbfs:/x) must not be taken for a missing
    local path (which would silently report a fresh run for existing remote
    lineage); file:-scheme paths ARE local and resolve to the filesystem
    path."""
    from readability_spark.spark.job import _read_lineage

    # dbfs:/... -> remote branch -> spark read fails with a non-PATH_NOT_FOUND
    # error class -> loud LineageCorruptError, never a silent fresh-run None
    from readability_spark.spark.job import LineageCorruptError

    with pytest.raises(LineageCorruptError):
        _read_lineage(spark, "dbfs:/definitely/not/mounted")

    # file: single- and double-slash forms hit the local branch
    assert _read_lineage(spark, f"file:{tmp_path}/missing") is None
    assert _read_lineage(spark, f"file://{tmp_path}/missing") is None


@pytest.mark.parametrize(
    "builder, synthesizer",
    [
        ("pages_from_documents", "synthesize_html"),
        ("junk_pages_from_documents", "synthesize_junk_html"),
        ("media_pages_from_documents", "synthesize_media_html"),
    ],
    ids=["contract", "junk", "media"],
)
def test_pages_builders_match_synthesizers(spark, builder, synthesizer):
    """Every pages builder emits, per document, page_url(...) and exactly
    the bytes of its synthesize_* template; text and lang pass through."""
    from readability_spark.spark import pages as p

    docs = [
        (i, f"Story {i}: <b>prices</b> & \"wages\" rose", ("en", "de", "fr")[i % 3], f"s{i % 2}")
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string, source string")
    out = getattr(p, builder)(df)
    assert out.schema == p.PAGES_SCHEMA
    got = {r.url: r for r in out.collect()}
    assert len(got) == len(docs)
    for i, text, lang, source in docs:
        row = got[p.page_url(i, source)]
        html = getattr(p, synthesizer)(i, text, lang)
        assert bytes(row.html) == html.encode("utf-8")
        assert (row.text, row.lang) == (text, lang)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimporter re-reads lazily on 3.13+")
@pytest.mark.parametrize("via", ["map_batches", "mapInPandas"])
def test_worker_invalidate_caches_keeps_zip_directories(spark, via):
    """On the real worker sys.path (pyspark.zip, py4j, the spark-core jar)
    PySpark's per-task importlib.invalidate_caches() re-reads no unchanged
    archive once prepare_python_worker has run, on every task.  The
    map_batches case never calls it itself: map_batches must.  It runs
    before the mapInPandas case, whose body patches its worker itself, so
    in this module only map_batches can have patched the workers."""

    def reads_and_importers():
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return len(reads), importers

    def count_reads(batches):
        import pandas as pd

        prepare_python_worker()
        n_reads, importers = reads_and_importers()
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [n_reads], "importers": [importers]})

    def columns_of(batch):
        n_reads, importers = reads_and_importers()
        return [[n_reads] * batch.num_rows, [importers] * batch.num_rows]

    ids = spark.range(8, numPartitions=8)
    if via == "mapInPandas":
        counted = ids.mapInPandas(count_reads, "reads long, importers long")
    else:
        counted = map_batches(
            ids,
            StructType([StructField("reads", LongType()), StructField("importers", LongType())]),
            columns_of,
        )
    rows = counted.collect()
    assert len(rows) == 8
    assert all(r.importers > 0 for r in rows)
    assert [r.reads for r in rows] == [0] * 8
