"""spark-submit entry point + source/sink abstraction tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

from conftest import CRASH_POINTS, InjectedCrash, crash_run_job  # noqa: E402
from extract_job import parse_args  # noqa: E402
from readability_spark.spark import sources  # noqa: E402
from readability_spark.spark.session import get_spark  # noqa: E402


class TestCli:
    def test_parse_defaults(self):
        args = parse_args(
            ["--input", "i", "--output", "o", "--lineage", "l", "--run-id", "r"]
        )
        assert args.num_partitions == 64
        assert args.salt_n == 4
        assert args.commit_groups == 2
        assert args.warmup is False

    def test_parse_overrides(self):
        args = parse_args(
            [
                "--input", "i", "--output", "o", "--lineage", "l", "--run-id", "r",
                "--num-partitions", "8", "--salt-n", "2", "--commit-groups", "1",
                "--warmup", "--report-json", "/tmp/x.json",
            ]
        )
        assert (args.num_partitions, args.salt_n, args.commit_groups) == (8, 2, 1)
        assert args.warmup and args.report_json == "/tmp/x.json"


    @pytest.mark.parametrize("value", ["0", "-1"])
    @pytest.mark.parametrize("flag", ["--num-partitions", "--salt-n", "--commit-groups"])
    def test_counts_below_one_are_usage_errors(self, flag, value, capsys):
        with pytest.raises(SystemExit) as exc:
            parse_args(
                ["--input", "i", "--output", "o", "--lineage", "l", "--run-id", "r",
                 flag, value]
            )
        assert exc.value.code == 2
        assert flag in capsys.readouterr().err


class TestSubmitRun:
    """One real run of scripts/extract_job.py in a fresh Python process, as
    spark-submit would start it: warm-up, content extraction, report line,
    and a resume of the same run id; and the submitted conf of its session."""

    def _run(self, tmp_path, *flags, submit_args="--master local[2] pyspark-shell"):
        repo = Path(__file__).resolve().parents[1]
        env = dict(os.environ)
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
        env["PYTHONPATH"] = os.pathsep.join(
            filter(None, [str(repo), env.get("PYTHONPATH")])
        )
        cmd = [sys.executable, *flags]
        return subprocess.run(
            cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
        )

    def _job(self, tmp_path, *flags):
        repo = Path(__file__).resolve().parents[1]
        return self._run(tmp_path, str(repo / "scripts" / "extract_job.py"), *flags)

    def test_extract_and_resume(self, tmp_path):
        from readability_spark.fixtures import build_rows

        rows = build_rows(40)
        (tmp_path / "pages").mkdir()
        pd.DataFrame(
            {
                "url": [r.url for r in rows],
                "warc_ts": [r.warc_ts for r in rows],
                "html": [r.html for r in rows],
                "text": [r.text for r in rows],
                "lang": [r.lang for r in rows],
            }
        ).to_parquet(
            tmp_path / "pages" / "part-0.parquet", index=False, coerce_timestamps="us"
        )
        job = [
            "--input", str(tmp_path / "pages"), "--output", str(tmp_path / "out"),
            "--lineage", str(tmp_path / "lineage"), "--run-id", "r1",
            "--num-partitions", "4", "--salt-n", "1", "--commit-groups", "2",
            "--content-extraction",
        ]

        first = self._job(
            tmp_path, *job, "--warmup", "--report-json", str(tmp_path / "report.json")
        )
        assert first.returncode == 0, first.stderr[-3000:]
        report = json.loads(first.stdout.strip().splitlines()[-1])
        assert report["docs"] == len(rows)
        assert json.loads((tmp_path / "report.json").read_text()) == report
        out = pd.read_parquet(tmp_path / "out", columns=["url"])
        assert sorted(out["url"]) == sorted(r.url for r in rows)

        again = self._job(tmp_path, *job)
        assert again.returncode == 0, again.stderr[-3000:]
        assert json.loads(again.stdout.strip().splitlines()[-1])["partitions_processed"] == 0

        # the removed html codec flag is a usage error, not a silent no-op
        assert self._job(tmp_path, *job, "--html-codec", "gzip").returncode == 2

    def test_submitted_conf_wins_over_engine_conf(self, tmp_path):
        """The session scripts/extract_job.py builds keeps every submitted
        --conf and fills in only the engine settings that were not
        submitted."""
        keys = (
            "spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.parquet.columnarReaderBatchSize",
            "spark.sql.session.timeZone",
        )
        script = (
            "import json\n"
            "from pyspark.sql import SparkSession\n"
            "from readability_spark.spark.session import apply_engine_conf\n"
            "spark = apply_engine_conf(SparkSession.builder.appName('conf-test').getOrCreate())\n"
            f"print(json.dumps({{k: spark.conf.get(k) for k in {keys!r}}}))\n"
            "spark.stop()\n"
        )
        proc = self._run(
            tmp_path, "-c", script,
            submit_args="--master local[1] --conf spark.sql.shuffle.partitions=7 "
            "--conf spark.sql.execution.arrow.maxRecordsPerBatch=64 pyspark-shell",
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        assert got == {
            "spark.sql.shuffle.partitions": "7",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
            "spark.sql.parquet.columnarReaderBatchSize": "512",
            "spark.sql.session.timeZone": "UTC",
        }


class TestEngineConf:
    """A get_spark session reads, for each of the 13 settings the engine
    once set explicitly, the value that explicit setting gave."""

    EARLIER_ENGINE_CONF = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.worker.reuse": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.parquet.columnarReaderBatchSize": "512",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.speculation": "false",
    }
    BYTE_SIZES = ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.files.maxPartitionBytes")
    # Spark's own defaults: the context conf does not hold these keys
    CORE_DEFAULTS = ("spark.python.worker.reuse", "spark.speculation")
    # read only by toPandas and pandas-input createDataFrame, neither of
    # which the repository calls (its mapInArrow pass never reads it)
    UNREAD = ("spark.sql.execution.arrow.pyspark.enabled",)

    @pytest.fixture(scope="class")
    def spark(self):
        # the JVM keeps the conf of the call that launched it as system
        # properties, which later sessions read as submitted: read the
        # settings in a JVM this session launches, as a fresh process does
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            gateway.proc.wait(timeout=60)
        spark = get_spark(app_name="engine-conf-tests", master="local[1]")
        yield spark
        spark.stop()

    def test_engine_conf_is_the_five_settings_that_change_something(self):
        from readability_spark.spark.session import ENGINE_CONF

        assert set(ENGINE_CONF) == {
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.parquet.columnarReaderBatchSize",
            "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone",
            "spark.driver.extraJavaOptions",
        }

    def test_effective_values_unchanged(self, spark):
        as_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        context = dict(spark.sparkContext.getConf().getAll())
        for key, want in self.EARLIER_ENGINE_CONF.items():
            if key in self.UNREAD:
                continue
            if key in self.CORE_DEFAULTS:
                assert key not in context, key
            elif key in self.BYTE_SIZES:
                assert as_bytes(spark.conf.get(key)) == as_bytes(want), key
            else:
                assert spark.conf.get(key) == want, key

    def test_unread_setting_has_no_reader(self):
        repo = Path(__file__).resolve().parents[1]
        sources = [
            p for d in ("readability_spark", "scripts", "tools", "perfbench")
            for p in (repo / d).rglob("*.py")
        ] + [repo / "__spark_entry__.py"]
        for path in sources:
            text = path.read_text(encoding="utf-8")
            assert "toPandas(" not in text and "createDataFrame(pd" not in text, path


class TestSources:
    @pytest.fixture(scope="class")
    def spark(self):
        spark = get_spark(app_name="sources-tests", master="local[2]", conf={"spark.sql.shuffle.partitions": "2"})
        yield spark
        spark.stop()

    def test_table_ref_detection(self):
        assert sources.is_table_ref("table:cat.db.pages")
        assert not sources.is_table_ref("/tmp/pages")

    def test_parquet_roundtrip_with_partitioning(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "id long, part string"
        )
        ref = str(tmp_path / "t")
        sources.replace_partitions(df, ref, "part")
        # replaces the part=a rows only
        sources.replace_partitions(spark.createDataFrame([(4, "a")], df.schema), ref, "part")
        back = sources.read_ref(spark, ref)
        assert sorted((r.id, r.part) for r in back.collect()) == [(2, "b"), (4, "a")]
        log = str(tmp_path / "log")
        sources.append_ref(df, log)
        sources.append_ref(df, log)  # append semantics
        assert sources.read_ref(spark, log).count() == 6


class TestSingleDocCli:
    """python -m readability_spark FILE — parity with the reference binary
    (/root/reference/src/main.rs:12-34: print content, errors -> exit 1)."""

    def test_prints_content(self, tmp_path, capsys):
        from readability_spark.__main__ import main

        f = tmp_path / "page.html"
        f.write_text("<html><body><p>Hello.</p></body></html>", encoding="utf-8")
        assert main([str(f)]) == 0
        out = capsys.readouterr().out.strip()
        assert out == "<html><head></head><body><p>Hello.</p></body></html>"

    def test_json_mode_and_scored_flag(self, tmp_path, capsys):
        import json

        from readability_spark.__main__ import main

        f = tmp_path / "page.html"
        f.write_text(
            "<html><head><title>T</title></head><body><div id='main-content'>"
            + "<p>Prose, with commas, long enough to score as the top candidate here.</p>"
            + "</div><div id='footer-junk'><a href='/'>x</a></div></body></html>",
            encoding="utf-8",
        )
        assert main([str(f), "--json", "--scored", "--min-text-length", "0"]) == 0
        d = json.loads(capsys.readouterr().out)
        assert d["title"] == "T"
        assert d["content"].startswith('<div id="readability-content">')

    def test_missing_file_exits_1(self, capsys):
        from readability_spark.__main__ import main

        assert main(["/nonexistent.html"]) == 1
        assert "error:" in capsys.readouterr().err


class TestTableRefJob:
    """Exercise the catalog-table branch of sources.append_ref/read_ref end
    to end: run_job writing articles + lineage to session-catalog tables
    (v1 saveAsTable fallback; on an Iceberg catalog the same call path uses
    the transactional V2 writeTo — sources.py docstring)."""

    @pytest.fixture(scope="class")
    def spark(self):
        spark = get_spark(
            app_name="tableref-tests", master="local[2]", conf={"spark.sql.shuffle.partitions": "2"}
        )
        yield spark

    @pytest.fixture(scope="class")
    def pages(self, spark):
        from readability_spark.fixtures import build_rows

        rows = build_rows(40)
        return spark.createDataFrame(
            [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    @pytest.fixture
    def tables(self, spark, pages):
        """Empty articles and lineage tables; the articles table is
        partitioned by partition_id, as run_job requires."""
        from readability_spark.spark.job import LINEAGE_SCHEMA, extract_articles, with_partition_id

        try:
            extract_articles(with_partition_id(pages, 4)).limit(0).writeTo(
                "articles_ref_t"
            ).using("parquet").partitionedBy("partition_id").create()
            spark.createDataFrame([], LINEAGE_SCHEMA).writeTo(
                "lineage_ref_t"
            ).using("parquet").create()
            yield "table:articles_ref_t", "table:lineage_ref_t"
        finally:
            spark.sql("DROP TABLE IF EXISTS articles_ref_t")
            spark.sql("DROP TABLE IF EXISTS lineage_ref_t")

    def test_run_job_and_resume_on_catalog_tables(self, spark, pages, tables):
        from readability_spark.spark.job import run_job

        rep = run_job(spark, pages, *tables, run_id="t1", num_partitions=4, salt_n=2, commit_groups=2)
        assert rep.docs == 40 and rep.partitions_processed == 4
        # resume: lineage table says everything committed -> no recompute
        rep2 = run_job(spark, pages, *tables, run_id="t1", num_partitions=4, salt_n=2, commit_groups=2)
        assert rep2.partitions_processed == 0
        assert spark.table("articles_ref_t").count() == 40
        assert spark.table("lineage_ref_t").count() == 4

    @pytest.mark.parametrize("point", CRASH_POINTS)
    def test_resume_after_crash_leaves_one_row_per_url(self, spark, pages, tables, monkeypatch, point):
        """The table sink's group write replaces its own partitions even
        when the session's partition-overwrite mode is static, and leaves
        that mode as it found it."""
        from readability_spark.spark.job import run_job

        key = "spark.sql.sources.partitionOverwriteMode"
        spark.conf.set(key, "STATIC")
        args = dict(run_id="c", num_partitions=4, salt_n=2, commit_groups=2)
        try:
            with monkeypatch.context() as m:
                crash_run_job(m, point)
                with pytest.raises(InjectedCrash):
                    run_job(spark, pages, *tables, **args)
            rep = run_job(spark, pages, *tables, **args)
            assert spark.conf.get(key) == "STATIC"
        finally:
            spark.conf.unset(key)
        assert rep.partitions_done_previously == 2 and rep.partitions_processed == 2
        per_url = spark.table("articles_ref_t").groupBy("url").count()
        assert per_url.count() == 40
        assert per_url.filter("count != 1").count() == 0

    def test_unpartitioned_output_table_is_rejected(self, spark, pages, tables):
        """An overwrite of an unpartitioned table would replace every row,
        so run_job refuses one before extracting anything."""
        from readability_spark.spark.job import extract_articles, run_job

        try:
            extract_articles(pages).limit(0).writeTo("articles_flat_t").using("parquet").create()
            with pytest.raises(ValueError, match="partitioned by 'partition_id'"):
                run_job(spark, pages, "table:articles_flat_t", tables[1], run_id="u", num_partitions=4)
            assert spark.table(tables[1][len("table:"):]).count() == 0
        finally:
            spark.sql("DROP TABLE IF EXISTS articles_flat_t")
