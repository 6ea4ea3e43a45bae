"""CLI surface + HTML report tests (reference entry points 1/2 and S11)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tests.conftest import SF_CORRECT


class TestHtmlReport:
    def test_html_written(self, spark, tmp_path):
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from mysql_data_quality_spark.reports.html_report import (
            write_html_report,
        )

        res = QF.metrics(QF.annotate(P.read_pages(spark, SF_CORRECT)))
        path = write_html_report(
            res, "pages", tmp_path, metadata={"sf": "0.01", "note": None}
        )
        text = path.read_text()
        assert "Data Quality Report — pages" in text
        assert "Quality score:" in text
        for sev in ("CRITICAL", "ERROR", "WARNING", "INFO"):
            assert f"<h2>{sev}</h2>" in text
        assert "toxicity_blocklist" in text
        # reference-parity structure (html_report.py:71-117,119-220):
        # summary cards, validator+severity breakdowns, per-result detail,
        # metadata footer with None -> N/A
        assert "Summary" in text and "class='cards'" in text
        assert "Validator Breakdown" in text
        assert "Severity Breakdown" in text
        assert "pass rate" in text and "class='details'" in text
        assert "Metadata: sf: 0.01, note: N/A" in text
        assert "Generated on" in text


class TestCli:
    """Drive the CLI in-process (the argparse surface is the contract;
    subprocess startup would just re-pay JVM boot per test)."""

    def test_parser_shapes(self, tmp_path, capsys):
        from mysql_data_quality_spark.cli import build_parser

        p = build_parser()
        a = p.parse_args(["validate", "/x.parquet", "--validators",
                          "completeness", "duplicates"])
        assert a.command == "validate" and a.validators == [
            "completeness", "duplicates"]
        a = p.parse_args(["filter", "--documents", "/d", "--output", "/o"])
        assert a.command == "filter"
        with pytest.raises(SystemExit):
            p.parse_args(["filter", "--output", "/o"])  # missing source
        a = p.parse_args(["stream-filter", "--input-dir", "/i",
                          "--output", "/o", "--checkpoint", "/c",
                          "--dedup"])
        assert a.command == "stream-filter" and a.dedup is True
        a = p.parse_args(["stream-metrics", "--input-dir", "/i",
                          "--output", "/o", "--checkpoint", "/c"])
        assert a.command == "stream-metrics" and a.window == "1 hour"
        a = p.parse_args(["compact-history", "/h"])
        assert a.command == "compact-history" and a.history_dir == "/h"
        a = p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--dedup-history", "/h", "--arpa-model", "/m"])
        assert a.dedup_history == "/h" and a.arpa_model == "/m"
        a = p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--profile", "full", "--dedup-near", "minhash",
                          "--near-threshold", "0.4", "--extract-html"])
        assert a.profile == "full" and a.dedup_near == "minhash"
        assert a.near_threshold == 0.4 and a.near_min_shared == 3
        assert a.extract_html is True
        assert a.dedup_paragraph is False
        assert a.normalize_text is None
        assert a.blocklist is None
        a = p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--dedup-paragraph", "--normalize-text", "nfkc",
                          "--blocklist", "/ut1/domains", "--dedup-lines"])
        assert a.dedup_paragraph is True and a.normalize_text == "nfkc"
        assert a.blocklist == "/ut1/domains" and a.dedup_lines is True
        with pytest.raises(SystemExit):
            p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--normalize-text", "nfd"])  # not a choice
        a = p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--decontaminate", "/eval.parquet",
                          "--decontaminate-ngram", "8"])
        assert a.decontaminate == "/eval.parquet"
        assert a.decontaminate_ngram == 8
        with pytest.raises(SystemExit):
            p.parse_args(["filter", "--documents", "/d", "--output", "/o",
                          "--dedup-near", "simhash"])  # not a generator
        a = p.parse_args(["filter", "--input-wet", "/wet", "--output", "/o"])
        assert a.input_wet == "/wet" and a.input is None
        assert a.resume is False
        with pytest.raises(SystemExit):  # one source only
            p.parse_args(["filter", "--input-wet", "/wet", "--input", "/i",
                          "--output", "/o"])
        # an --output holding lineage is refused (exit 2) before any
        # Spark work unless --resume is passed
        from mysql_data_quality_spark import cli

        lineage = tmp_path / "o" / "lineage"
        lineage.mkdir(parents=True)
        (lineage / "bucket_0.json").write_text('{"bucket": 0, "rows": 1}')
        rc = cli.main(["filter", "--documents", "/nonexistent", "--output",
                       str(tmp_path / "o")])
        assert rc == 2
        assert "prior lineage" in capsys.readouterr().err

    def test_validate_command(self, spark, tmp_path, capsys):
        # reuses the session via getOrCreate inside the command
        from mysql_data_quality_spark import cli

        rc = cli.main(
            ["validate", f"{SF_CORRECT}/region.parquet",
             "--validators", "completeness", "-o", str(tmp_path)]
        )
        out = capsys.readouterr().out
        assert "region:" in out and "checks passed" in out
        assert rc == 0
        # reference validate always writes at least a summary report
        # (cli.py:290-299) — default format is summary → one .txt file
        txts = list(tmp_path.glob("*.txt"))
        assert len(txts) == 1 and "report[txt]" in out
        assert not list(tmp_path.glob("*.html"))

    def test_validate_command_report_formats(self, spark, tmp_path, capsys):
        # reference -r html -r json (cli.py:192-196,300-326): exactly the
        # requested formats are written to --output-dir
        from mysql_data_quality_spark import cli

        rc = cli.main(
            ["validate", f"{SF_CORRECT}/region.parquet",
             "--validators", "completeness",
             "-r", "html", "-r", "json", "-o", str(tmp_path)]
        )
        out = capsys.readouterr().out
        assert rc == 0
        html = list(tmp_path.glob("*.html"))
        js = list(tmp_path.glob("*.json"))
        assert len(html) == 1 and len(js) == 1
        assert not list(tmp_path.glob("*.txt"))
        assert "report[html]" in out and "report[json]" in out
        # report carries the run metadata like the reference's
        payload = json.loads(js[0].read_text())
        assert payload["metadata"]["total_rows"] == 5
        assert payload["table_name"] == "region"

    def test_analyze_command(self, spark, tmp_path, capsys):
        from mysql_data_quality_spark import cli

        rc = cli.main(
            ["analyze", f"{SF_CORRECT}/region.parquet",
             "--output-dir", str(tmp_path)]
        )
        assert rc == 0
        payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert payload["table"] == "region"
        assert payload["metadata"]["total_rows"] == 5
        assert (tmp_path / payload["reports"]["json"].split("/")[-1]).exists()

    def test_list_tables_command(self, spark, capsys):
        from mysql_data_quality_spark import cli

        rc = cli.main(["list-tables", SF_CORRECT])
        out = capsys.readouterr().out
        assert rc == 0
        lines = [line for line in out.splitlines() if line.strip()]
        assert len(lines) == 10
        # sorted by row count desc -> lineitem first
        assert lines[0].startswith("lineitem")


class TestCliFilter:
    def test_describe_table_command(self, spark, capsys):
        from mysql_data_quality_spark import cli

        rc = cli.main(["describe-table", f"{SF_CORRECT}/region.parquet"])
        out = capsys.readouterr().out
        assert rc == 0
        assert "Table: region" in out
        assert "Records: 5" in out
        assert "r_regionkey" in out and "int" in out
        assert "r_name" in out and "string" in out
        assert "nullable" in out

    def test_describe_table_command_jdbc(self, spark, tmp_path, capsys):
        from mysql_data_quality_spark import cli

        url = f"jdbc:derby:{tmp_path / 'ddb'};create=true"
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id: int, name: string"
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "things"
        ).option(
            "driver", "org.apache.derby.jdbc.EmbeddedDriver"
        ).save()
        rc = cli.main(["describe-table", "things", "--jdbc-url", url])
        out = capsys.readouterr().out
        assert rc == 0
        assert "Table: things" in out and "Records: 2" in out
        assert "ID" in out.upper() and "NAME" in out.upper()

    def test_test_connection_command(self, spark, tmp_path, capsys):
        """Reference cli.py:21-46 parity: a live probe that succeeds on a
        reachable database and reports failure (rc=1, no traceback) on an
        unreachable one."""
        from mysql_data_quality_spark import cli

        url = f"jdbc:derby:{tmp_path / 'cdb'};create=true"
        rc = cli.main(
            [
                "test-connection",
                "--url",
                url,
                "--probe-query",
                "SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1",
            ]
        )
        out = capsys.readouterr().out
        assert rc == 0 and "Connection successful" in out

        rc = cli.main(
            ["test-connection", "--url", f"jdbc:derby:{tmp_path / 'nope'}"]
        )
        out = capsys.readouterr().out
        assert rc == 1 and "Connection failed" in out

    def test_test_connection_uses_db_env(self, monkeypatch, capsys):
        """Without --url the command targets the reference's DB_* env
        surface (DatabaseConfig), like reference load_config."""
        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.core.config import DatabaseConfig

        monkeypatch.setenv("DB_HOST", "db.internal")
        monkeypatch.setenv("DB_PORT", "3307")
        monkeypatch.setenv("DB_NAME", "crawl")
        monkeypatch.setenv("DB_USER", "qa")
        monkeypatch.setenv("DB_PASSWORD", "s3cret")
        db = DatabaseConfig.from_env()
        assert db.jdbc_url == "jdbc:mysql://db.internal:3307/crawl"
        assert db.jdbc_options == {"user": "qa", "password": "s3cret"}
        # no mysql server in the sandbox: the probe must FAIL cleanly
        # while showing it targeted the env-configured endpoint
        rc = cli.main(["test-connection"])
        out = capsys.readouterr().out
        assert rc == 1
        assert "mysql://db.internal:3307/crawl" in out
        assert "Connection failed" in out

    def test_read_jdbc_partition_bounds_validated(self, spark):
        """ADVICE r2: partition_column without explicit bounds used to
        send the literal string 'None' to the datasource."""
        from mysql_data_quality_spark.sources.registry import read_jdbc

        with pytest.raises(ValueError, match="lower_bound"):
            read_jdbc(
                spark, "jdbc:derby:memory:x", "t", partition_column="id"
            )

    def test_filter_command_end_to_end(self, spark, tmp_path, monkeypatch, capsys):
        """filter: env-driven rules + checkpointed write + metrics reports
        produced by observe() on the SAME write pass."""
        from mysql_data_quality_spark import cli
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)  # no stray .env
        monkeypatch.setenv("DQS_RULE_MIN_WORDS", "50")
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out_dir,
             "--buckets", "4"]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["written"] == 4 and stats["input_scans"] == 1
        assert set(stats["metrics_reports"]) == {"json", "txt", "html"}
        dec = spark.read.parquet(f"{out_dir}/data")
        # stricter env threshold visibly changes decisions
        assert dec.where("drop_reason like '%min_words%'").count() > 0
        payload = json.loads(
            open(stats["metrics_reports"]["json"]).read()
        )
        by_rule = {r["rule_name"]: r for r in payload["results"]}
        assert by_rule["min_words"]["affected_rows"] == dec.where(
            "drop_reason like '%min_words%'"
        ).count()
        assert by_rule["keep_rate"]["total_rows"] == dec.count()

    def test_filter_profile_full_end_to_end(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --profile full: every Gopher/C4 rule decides; output
        matches the full-profile golden byte-for-byte, metrics report the
        wider rule registry, and env overrides still compose on top."""
        from mysql_data_quality_spark import cli
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out_dir,
             "--buckets", "4", "--profile", "full"]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["input_scans"] == 1
        got = (
            spark.read.parquet(f"{out_dir}/data")
            .orderBy("url")
            .toPandas()
        )
        golden = [
            json.loads(line)
            for line in (
                Path(__file__).parent / "golden"
                / "decisions_full_sf0001.jsonl"
            ).read_text().splitlines()
        ]
        assert len(got) == len(golden) == 500
        for row, g in zip(got.itertuples(index=False), golden):
            assert row.url == g["url"]
            assert bool(row.keep) == g["keep"], g["url"]
            assert row.drop_reason == g["drop_reason"], g["url"]
            assert row.scrubbed_text == g["scrubbed_text"], g["url"]
        # the metrics table covers the full registry
        payload = json.loads(open(stats["metrics_reports"]["json"]).read())
        rule_names = {r["rule_name"] for r in payload["results"]}
        assert {"line_repetition", "c4_line_quality",
                "c4_lorem_ipsum"} <= rule_names
        # env override composes ON TOP of the profile
        monkeypatch.setenv("DQS_RULE_C4_LINE_QUALITY_ENABLED", "false")
        out2 = str(tmp_path / "out2")
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out2,
             "--buckets", "4", "--profile", "full"]
        )
        assert rc == 0
        dec2 = spark.read.parquet(f"{out2}/data")
        assert dec2.where(
            "drop_reason like '%c4_line_quality%'"
        ).count() == 0
        assert dec2.where("keep").count() > got.keep.sum()

    def test_filter_dedup_end_to_end_matches_composed_oracle(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --dedup: the end-to-end corpus pipeline (exact-dedup ->
        filter -> checkpointed write) in ONE resumable job, byte-compared
        against the DuckDB composition of the dedup and decision oracles."""
        import duckdb

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.operators.dedup import (
            dedup_exact_corpus_sql,
        )
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out_dir,
             "--buckets", "4", "--dedup"]
        )
        assert rc == 0
        got = (
            spark.read.parquet(f"{out_dir}/data")
            .drop("bucket")
            .orderBy("url")
            .toPandas()
        )
        con = duckdb.connect()
        con.sql(
            "create view documents as "
            f"select * from '{SF_SMOKE}/documents.parquet'"
        )
        oracle = con.sql(
            "with pages as (" + P.pages_cte_sql() + "), pages_d as ("
            + dedup_exact_corpus_sql("pages", "url", "text") + ") "
            + QF.decisions_sql("pages_d") + " order by url"
        ).df()
        assert len(got) == len(oracle) > 0
        assert list(got.columns) == list(oracle.columns)
        for c in got.columns:
            assert (got[c].values == oracle[c].values).all(), c
        # sf0.001 has no exact-dup texts: dedup must be a no-op here
        assert len(got) == P.read_pages(spark, SF_SMOKE).count()
        # dedup effectiveness: re-run over a corpus with injected
        # duplicate texts (same text, different urls) via --input
        from pyspark.sql import functions as F

        pages = P.read_pages(spark, SF_SMOKE)
        dup_in = str(tmp_path / "dup_pages")
        pages.union(
            pages.limit(40).withColumn(
                "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
            )
        ).write.parquet(dup_in)
        dup_out = str(tmp_path / "dup_out")
        rc = cli.main(
            ["filter", "--input", dup_in, "--output", dup_out,
             "--buckets", "4", "--dedup"]
        )
        assert rc == 0
        n_dedup = spark.read.parquet(f"{dup_out}/data").count()
        assert n_dedup == pages.count()  # the 40 mirrors deduped away
        # resume is a no-op on the composed job too
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out_dir,
             "--buckets", "4", "--dedup", "--resume"]
        )
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 0 and stats["written"] == 0 and stats["skipped"] == 4

    def test_filter_dedup_keep_newest(self, spark, tmp_path, monkeypatch):
        """--dedup-keep newest: of two byte-identical captures the later
        warc_ts survives, even though the mirror url sorts AFTER the
        original (min_id would keep the original)."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        pages = P.read_pages(spark, SF_SMOKE)
        old = pages.orderBy("url").limit(10)
        newer = old.withColumn(
            "url", F.concat(F.lit("https://zmirror.example/"), F.col("url"))
        ).withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 5 days"))
        in_dir = str(tmp_path / "in")
        old.union(newer).write.parquet(in_dir)
        out = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input", in_dir, "--output", out,
             "--buckets", "2", "--dedup", "--dedup-keep", "newest"]
        )
        assert rc == 0
        urls = {
            r["url"]
            for r in spark.read.parquet(f"{out}/data").collect()
        }
        assert urls and all(u.startswith("https://zmirror") for u in urls)

    def test_dedup_keep_without_dedup_stage_errors(self, tmp_path, capsys):
        """--dedup-keep with neither --dedup nor --dedup-history must
        fail loudly (exit 2) — a policy flag with no stage to apply to
        is the silent-no-op class, like --decontaminate-fuzzy alone."""
        from mysql_data_quality_spark import cli

        rc = cli.main(
            ["filter", "--input", str(tmp_path / "in"),
             "--output", str(tmp_path / "out"),
             "--dedup-keep", "newest"]
        )
        assert rc == 2
        assert "--dedup" in capsys.readouterr().err


class TestCliFilterDedupNear:
    def _pages(self, spark):
        """Controlled corpus: two clear near-dup clusters (one word
        changed) + unrelated docs, so the probabilistic minhash pass and
        the exact jaccard closure agree on the clusters."""
        from pyspark.sql import functions as F

        a = ("the quick brown fox jumps over the lazy dog near the "
             "river bank every single morning without fail at dawn.")
        b = ("spark compiles declarative plans into whole stage codegen "
             "with partial aggregation pushed below every shuffle edge.")
        rows = [
            ("u01", a), ("u02", a.replace("dawn", "dusk")),
            ("u03", a.replace("morning", "evening")),
            ("u10", b), ("u11", b.replace("every", "each")),
            ("u20", "completely unrelated text about parquet footers."),
            ("u21", "another standalone page mentioning bloom filters."),
            ("u22", "nothing shared here with any other document text."),
        ]
        return (
            spark.createDataFrame(rows, "url: string, text: string")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(None).cast("binary"))
        )

    def test_dedup_near_minhash_matches_composed_oracle(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --dedup-near minhash: pairs -> clusters -> keep-one ->
        filter, byte-compared against the DuckDB composition (jaccard
        pairs + recursive-CTE closure + decisions) — r4 verdict ask #4."""
        import duckdb

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.operators.dedup import (
            duplicate_clusters_sql,
            shingle_jaccard_pairs_sql,
        )
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        monkeypatch.chdir(tmp_path)
        dup_in = str(tmp_path / "pages_in")
        self._pages(spark).write.parquet(dup_in)
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input", dup_in, "--output", out_dir,
             "--buckets", "2", "--dedup-near", "minhash"]
        )
        assert rc == 0
        got = (
            spark.read.parquet(f"{out_dir}/data")
            .drop("bucket")
            .orderBy("url")
            .toPandas()
        )
        con = duckdb.connect()
        con.sql(f"create view pages as select * from '{dup_in}/*.parquet'")
        pairs = shingle_jaccard_pairs_sql(
            "pages", id_col="url", k=3, threshold=0.6
        )
        clusters = duplicate_clusters_sql(pairs)
        oracle = con.sql(
            "with corpus as (select * from pages where url not in ("
            f"select doc_id from ({clusters}) where doc_id != cluster_id)) "
            + QF.decisions_sql("corpus") + " order by url"
        ).df()
        assert list(got.columns) == list(oracle.columns)
        assert len(got) == len(oracle) == 5  # 8 docs - 3 cluster losers
        for c in got.columns:
            assert (got[c].values == oracle[c].values).all(), c
        assert set(got.url) == {"u01", "u10", "u20", "u21", "u22"}

    def test_dedup_near_fingerprint_removes_copied_passages(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --dedup-near fingerprint: docs sharing a long copied
        passage cluster and keep one; standalone docs survive."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli

        passage = ("the quick brown fox jumps over the lazy dog near "
                   "the river bank every single morning without fail")
        rows = [
            ("u1", "Original intro. " + passage + " And an ending."),
            ("u2", passage + " Totally different commentary follows."),
            ("u3", "Nothing in common with the others at all, none."),
        ]
        pages = (
            spark.createDataFrame(rows, "url: string, text: string")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(None).cast("binary"))
        )
        monkeypatch.chdir(tmp_path)
        dup_in = str(tmp_path / "pages_in")
        pages.write.parquet(dup_in)
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input", dup_in, "--output", out_dir,
             "--buckets", "2", "--dedup-near", "fingerprint"]
        )
        assert rc == 0
        kept = {
            r["url"]
            for r in spark.read.parquet(f"{out_dir}/data").collect()
        }
        assert kept == {"u1", "u3"}  # u2 clustered with u1; smallest kept


class TestCliStreamFilter:
    def test_stream_filter_e2e_incremental(
        self, spark, tmp_path, capsys
    ):
        """stream-filter CLI: first run processes the initial drop; a
        second drop + rerun processes ONLY the new files (checkpoint
        resume); a rerun with nothing new writes zero rows."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from tests.conftest import SF_SMOKE

        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = tmp_path / "in"
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        in_dir.mkdir()
        first100 = pages.orderBy("url").limit(100)
        first100.write.parquet(str(in_dir / "drop1"))
        # the file source globs the dir tree; drop subdirs keep each
        # delivery's files distinct
        args = ["stream-filter", "--input-dir", f"{in_dir}/*",
                "--output", out_dir, "--checkpoint", ckpt]
        rc = cli.main(args)
        assert rc == 0
        stats1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats1["input_rows"] == 100
        n1 = spark.read.parquet(out_dir).count()
        assert n1 == 100

        # second drop: only the new 60 rows are processed on restart
        pages.orderBy("url").limit(160).subtract(first100).write.parquet(
            str(in_dir / "drop2")
        )
        rc = cli.main(args)
        assert rc == 0
        stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats2["input_rows"] == 60
        assert spark.read.parquet(out_dir).count() == 160

        # nothing new -> no reprocess
        rc = cli.main(args)
        assert rc == 0
        stats3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats3["input_rows"] == 0 and stats3["batches"] == 0
        assert spark.read.parquet(out_dir).count() == 160

        # streamed decisions == batch decisions for the same rows
        streamed = (
            spark.read.parquet(out_dir)
            .drop("batch_id")
            .orderBy("url")
            .toPandas()
        )
        batch = (
            QF.decisions(pages.orderBy("url").limit(160))
            .orderBy("url")
            .toPandas()
        )
        for c in batch.columns:
            assert (streamed[c].values == batch[c].values).all(), c

    def test_stream_filter_dedup(self, spark, tmp_path, capsys):
        """--dedup: re-crawled urls in a later drop never re-emit
        decisions."""
        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = tmp_path / "in"
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        in_dir.mkdir()
        first = pages.limit(80)
        first.write.parquet(str(in_dir / "drop1"))
        args = ["stream-filter", "--input-dir", f"{in_dir}/*",
                "--output", out_dir, "--checkpoint", ckpt,
                "--dedup"]
        assert cli.main(args) == 0
        capsys.readouterr()
        n1 = spark.read.parquet(out_dir).count()
        assert n1 == 80
        # re-drop the same 80 urls: all are dropped by first-seen state
        first.write.parquet(str(in_dir / "drop2"))
        assert cli.main(args) == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["input_rows"] == 80  # read, but deduped before write
        assert spark.read.parquet(out_dir).count() == n1


class TestCliFilterHistory:
    def test_filter_dedup_history_across_runs(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --dedup-history: run 2 drops texts already filtered in
        run 1, and the history commit lands only after the write."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        pages = P.read_pages(spark, SF_SMOKE)
        hist = str(tmp_path / "hist")

        batch1 = pages.orderBy("url").limit(60)
        in1 = str(tmp_path / "in1")
        batch1.write.parquet(in1)
        rc = cli.main(
            ["filter", "--input", in1, "--output", str(tmp_path / "o1"),
             "--buckets", "2", "--dedup-history", hist]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["history_dir"] == hist
        n1 = spark.read.parquet(str(tmp_path / "o1") + "/data").count()
        assert n1 == 60

        # run 2: 30 urls re-serve batch-1 texts (url mangled so exact-url
        # resume can't explain the drop), 20 docs are genuinely new
        seen = batch1.limit(30).withColumn(
            "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
        )
        new = pages.orderBy("url").limit(80).subtract(
            pages.orderBy("url").limit(60)
        )
        in2 = str(tmp_path / "in2")
        seen.union(new).write.parquet(in2)
        rc = cli.main(
            ["filter", "--input", in2, "--output", str(tmp_path / "o2"),
             "--buckets", "2", "--dedup-history", hist]
        )
        assert rc == 0
        out2 = spark.read.parquet(str(tmp_path / "o2") + "/data")
        assert out2.count() == 20  # the 30 re-served texts dropped
        assert out2.where("url like 'https://mirror%'").count() == 0
        # decision columns unchanged (text_md5 never leaks into the sink)
        assert "text_md5" not in out2.columns

        # compact-history maintenance: runs fold into one distinct run,
        # and a follow-up probe still drops everything already seen
        rc = cli.main(["compact-history", hist])
        assert rc == 0
        payload = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert payload["distinct_hashes"] == 80  # 60 + 20 committed
        import pathlib

        assert len(list(pathlib.Path(hist).glob("run=*"))) == 1

    def test_filter_history_bloom_matches_plain(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """--history-bloom: identical surviving urls to the plain probe
        across two runs (the bloom is a performance knob, never a
        semantic one)."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        pages = P.read_pages(spark, SF_SMOKE)
        in1 = str(tmp_path / "in1")
        pages.orderBy("url").limit(40).write.parquet(in1)
        seen = spark.read.parquet(in1).limit(15).withColumn(
            "url", F.concat(F.lit("https://re.example/"), F.col("url"))
        )
        new = pages.orderBy("url").limit(60).subtract(
            pages.orderBy("url").limit(40)
        )
        in2 = str(tmp_path / "in2")
        seen.union(new).write.parquet(in2)

        survivors = {}
        for mode, extra in (("plain", []), ("bloom", ["--history-bloom"])):
            hist = str(tmp_path / f"hist_{mode}")
            rc = cli.main(
                ["filter", "--input", in1,
                 "--output", str(tmp_path / f"{mode}_o1"),
                 "--buckets", "2", "--dedup-history", hist] + extra
            )
            assert rc == 0
            rc = cli.main(
                ["filter", "--input", in2,
                 "--output", str(tmp_path / f"{mode}_o2"),
                 "--buckets", "2", "--dedup-history", hist] + extra
            )
            assert rc == 0
            capsys.readouterr()
            survivors[mode] = sorted(
                r["url"] for r in spark.read.parquet(
                    str(tmp_path / f"{mode}_o2") + "/data"
                ).select("url").collect()
            )
        assert survivors["plain"] == survivors["bloom"]
        assert len(survivors["bloom"]) == 20

    def test_history_bloom_without_history_errors(
        self, tmp_path, monkeypatch, capsys
    ):
        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        rc = cli.main(
            ["filter", "--documents", "/root/testdata/sf0.001",
             "--output", str(tmp_path / "o"), "--history-bloom"]
        )
        assert rc == 2
        assert "--history-bloom requires" in capsys.readouterr().err

    def test_history_commits_probe_survivors_not_stage_survivors(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """r5 second-pass review: history means "seen and decided" — a
        doc a LATER stage drops (here: decontamination) must still
        commit its hash, so a byte-identical re-delivery next run is
        dropped by the probe instead of being re-judged (and, without
        the eval set on run 2, shipped as a duplicate)."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.operators.dedup import (
            normalized_text_col,
        )
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        batch = P.read_pages(spark, SF_SMOKE).orderBy("url").limit(20)
        hist = str(tmp_path / "hist")
        in1 = str(tmp_path / "in1")
        batch.write.parquet(in1)
        # eval set = the longest batch doc's text -> decontamination
        # drops it (and any doc sharing a 13-gram with it)
        target = (
            batch.orderBy(F.length("text").desc(), "url").limit(1)
            .select("url", "text")
            .collect()[0]
        )
        ev = str(tmp_path / "eval")
        spark.createDataFrame(
            [(target["text"],)], "text: string"
        ).write.parquet(ev)
        rc = cli.main(
            ["filter", "--input", in1, "--output", str(tmp_path / "o1"),
             "--buckets", "2", "--dedup-history", hist,
             "--decontaminate", ev]
        )
        assert rc == 0
        capsys.readouterr()
        # the decontaminated doc never shipped...
        out1 = spark.read.parquet(str(tmp_path / "o1") + "/data")
        assert out1.where(F.col("url") == target["url"]).count() == 0
        # ...but its hash IS in the history (probe-survivor commit)
        want_md5 = spark.createDataFrame(
            [(target["text"],)], "text: string"
        ).select(F.md5(normalized_text_col(F.col("text"))).alias("h")) \
            .collect()[0]["h"]
        hashes = {
            r["text_md5"]
            for r in spark.read.parquet(hist).select("text_md5").collect()
        }
        assert want_md5 in hashes
        # run 2: the same text re-served (mangled url), NO eval set this
        # time — the probe alone must drop it
        in2 = str(tmp_path / "in2")
        batch.where(F.col("url") == target["url"]).withColumn(
            "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
        ).write.parquet(in2)
        rc = cli.main(
            ["filter", "--input", in2, "--output", str(tmp_path / "o2"),
             "--buckets", "2", "--dedup-history", hist]
        )
        assert rc == 0
        # zero survivors: the sink may write no data files at all (no
        # schema to infer) or empty-but-typed buckets — both mean 0 rows
        import pathlib

        data2 = pathlib.Path(str(tmp_path / "o2")) / "data"
        files = (
            list(data2.rglob("*.parquet")) if data2.exists() else []
        )
        if files:
            assert spark.read.parquet(str(data2)).count() == 0

    def test_domain_dropped_docs_do_not_commit_to_history(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """r5 ADVICE: domain keep-rate is CORPUS-RELATIVE, unlike the
        content-property stages (dedup/decontaminate) — a doc dropped
        solely because its domain scored badly THIS run must not be
        suppressed from all future runs.  Run 1 kills junkfarm.com whole
        (its passing page too); run 2 redelivers that passing page in a
        corpus where its domain is fine — it must ship."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from tests.test_domains import GOOD, JUNK

        monkeypatch.chdir(tmp_path)

        def _pages(rows):
            return (
                spark.createDataFrame(rows, "url: string, text: string")
                .withColumn("lang", F.lit("en"))
                .withColumn("warc_ts", F.current_timestamp())
                .withColumn("html", F.lit(None).cast("binary"))
            )

        hist = str(tmp_path / "hist")
        good_url = "https://junkfarm.com/good"
        good_text = GOOD + " junkfarm edition"
        run1 = _pages([
            ("https://junkfarm.com/a", JUNK + " aa"),
            ("https://junkfarm.com/b", JUNK + " bb"),
            ("https://junkfarm.com/c", JUNK + " cc"),
            (good_url, good_text),            # passes rules, dies by site
            ("https://fine.org/a", GOOD + " one"),
            ("https://fine.org/b", GOOD + " two"),
            ("https://fine.org/c", GOOD + " three"),
        ])
        in1 = str(tmp_path / "in1")
        run1.write.parquet(in1)
        rc = cli.main(
            ["filter", "--input", in1, "--output", str(tmp_path / "o1"),
             "--buckets", "2", "--dedup-history", hist,
             "--domain-threshold", "0.5", "--domain-min-docs", "2"]
        )
        assert rc == 0
        capsys.readouterr()
        out1 = spark.read.parquet(str(tmp_path / "o1") + "/data")
        assert out1.where(F.col("url").contains("junkfarm")).count() == 0
        # only domain-SURVIVORS committed: fine.org's 3 docs, nothing else
        hashes = spark.read.parquet(hist)
        assert hashes.count() == 3
        # run 2: the good junkfarm page redelivered alone — its domain is
        # now under the evidence floor, so only the history probe could
        # drop it; with the post-domain commit it ships
        in2 = str(tmp_path / "in2")
        _pages([(good_url, good_text)]).write.parquet(in2)
        rc = cli.main(
            ["filter", "--input", in2, "--output", str(tmp_path / "o2"),
             "--buckets", "2", "--dedup-history", hist,
             "--domain-threshold", "0.5", "--domain-min-docs", "2"]
        )
        assert rc == 0
        out2 = spark.read.parquet(str(tmp_path / "o2") + "/data")
        assert out2.where(F.col("url") == good_url).count() == 1

    def test_dsir_dropped_docs_do_not_commit_to_history(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """r6 ADVICE: DSIR's keep decision is corpus-relative sampling
        (ratio table and E[w] are batch statistics, rate < 1 by
        design), so a doc dropped by this run's lottery must not be
        permanently suppressed by the exact-dedup history.  Only DSIR
        SURVIVORS may commit hashes."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)

        def _pages(rows):
            return (
                spark.createDataFrame(rows, "url: string, text: string")
                .withColumn("lang", F.lit("en"))
                .withColumn("warc_ts", F.current_timestamp())
                .withColumn("html", F.lit(None).cast("binary"))
            )

        in_domain = "the spark engine compiles the query plan into stages"
        off_domain = "grandma's lemon cake recipe needs three fresh eggs"
        rows = [
            (f"https://site{i}.org/p", (in_domain if i < 8 else off_domain)
             + f" tail {i}")
            for i in range(16)
        ]
        hist = str(tmp_path / "hist")
        in1 = str(tmp_path / "in1")
        _pages(rows).write.parquet(in1)
        tgt = spark.createDataFrame(
            [(in_domain,)], "text: string"
        )
        tdir = str(tmp_path / "tgt")
        tgt.write.parquet(tdir)
        rc = cli.main(
            ["filter", "--input", in1, "--output", str(tmp_path / "o1"),
             "--buckets", "2", "--dedup-history", hist,
             "--dsir-target", tdir, "--dsir-rate", "0.4",
             "--dsir-temperature", "0.3"]
        )
        assert rc == 0
        capsys.readouterr()
        shipped = {
            r["url"]
            for r in spark.read.parquet(
                str(tmp_path / "o1") + "/data"
            ).collect()
        }
        dropped = {u for u, _ in rows} - shipped
        assert dropped, "test needs at least one DSIR-dropped doc"
        # ONLY survivors committed to the history
        committed = spark.read.parquet(hist).count()
        assert committed == len(shipped)
        # run 2: redeliver one dropped doc alone — the history must not
        # suppress it (it re-enters the lottery; with rate 0.4 it may
        # still lose, so only assert the history PROBE kept it by
        # checking its hash was never committed)
        from mysql_data_quality_spark.operators.dedup import (
            dedup_against_history,
        )

        redelivered = _pages(
            [(u, t) for u, t in rows if u in dropped][:1]
        )
        probe = dedup_against_history(
            redelivered, "url", "text", hist, update_history=False
        )
        assert probe.count() == 1


class TestCliStreamMetrics:
    def test_stream_metrics_e2e(self, spark, tmp_path, monkeypatch, capsys):
        """stream-metrics CLI: windowed per-rule metrics land in the
        parquet sink with the registry's column set; env rule overrides
        apply like the batch path."""
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.rules import heuristics
        from mysql_data_quality_spark import cli
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)  # no stray .env
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        pages.write.parquet(in_dir)
        sink = str(tmp_path / "metrics")
        rc = cli.main(
            ["stream-metrics", "--input-dir", in_dir,
             "--output", sink, "--checkpoint", str(tmp_path / "ck")]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["input_rows"] == pages.count()
        assert stats["metric_windows"] >= 1
        got = spark.read.parquet(sink).toPandas()
        assert {"window_start", "_total", "_dropped"} | set(
            heuristics.all_rule_severities()
        ) <= set(got.columns)
        assert got["_total"].sum() > 0

    def test_stream_metrics_empty_sink_reports_zero(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """r4 review: a drop whose event times all sit within the
        watermark horizon finalizes no window — the command must report
        metric_windows: 0, not crash on the empty parquet sink."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import pages as P
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        pages = P.read_pages(spark, SF_SMOKE).limit(20).withColumn(
            "warc_ts", F.to_timestamp(F.lit("2026-01-01 00:10:00"))
        )
        in_dir = str(tmp_path / "in")
        pages.write.parquet(in_dir)
        sink = str(tmp_path / "metrics")
        rc = cli.main(
            ["stream-metrics", "--input-dir", in_dir, "--output", sink,
             "--checkpoint", str(tmp_path / "ck")]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["metric_windows"] == 0
        assert stats["input_rows"] == 20


class TestCorpusStats:
    def test_cli_corpus_stats_vs_duckdb(
        self, spark, tmp_path, monkeypatch, capsys, duck
    ):
        """The one-command profile's scalar fields, histogram, and top
        domains replay exactly in DuckDB (langs/scripts come from
        operators that carry their own parity suites)."""
        import json as _json

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.operators.dedup import (
            normalized_text_sql,
        )
        from mysql_data_quality_spark.operators.skew import domain_stats_sql
        from mysql_data_quality_spark.operators.textstats import (
            token_length_histogram_sql,
        )
        from mysql_data_quality_spark.pipeline import pages as P

        monkeypatch.chdir(tmp_path)
        out_file = tmp_path / "stats.json"
        rc = cli.main([
            "corpus-stats", "--documents", SF_CORRECT,
            "--output", str(out_file), "--top-domains", "5",
        ])
        assert rc == 0
        got = _json.loads(out_file.read_text())
        assert got == _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        duck.sql(
            "create or replace view _cs_pages as "
            "with pages as (" + P.pages_cte_sql() + ") select * from pages"
        )
        head = duck.sql(
            "select count(*) n, sum(length(coalesce(text, ''))) c, "
            f"count(distinct md5({normalized_text_sql('text')})) d "
            "from _cs_pages"
        ).fetchone()
        assert got["n_docs"] == head[0]
        assert got["total_chars"] == head[1]
        assert got["distinct_texts"] == head[2]
        assert got["duplicate_fraction"] == round(1 - head[2] / head[0], 6)
        hist = {
            r[0]: {"n_docs": r[1], "total_tokens": r[2]}
            for r in duck.sql(
                token_length_histogram_sql("_cs_pages")
            ).fetchall()
        }
        assert got["token_length_histogram"] == hist
        doms = duck.sql(
            "select * from (" + domain_stats_sql("_cs_pages") + ") "
            "order by n_docs desc, domain limit 5"
        ).fetchall()
        assert got["top_domains"] == [
            {"domain": d, "n_docs": n, "total_chars": c}
            for d, n, c in doms
        ]
        assert sum(got["language_distribution"].values()) == head[0]
        assert sum(got["script_distribution"].values()) == head[0]

    def test_cli_corpus_stats_approx(self, spark, tmp_path, monkeypatch,
                                     capsys):
        import json as _json

        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        rc = cli.main([
            "corpus-stats", "--documents", SF_CORRECT, "--approx",
        ])
        assert rc == 0
        got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert got["distinct_mode"] == "approx_hll"
        # HLL estimate within 5% of the true distinct count
        assert abs(got["distinct_texts"] - 476) / 476 < 0.05
