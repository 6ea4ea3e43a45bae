"""WARC ingestion source (ISO 28500): writer/reader round trips over
both layouts (plain concatenation + Common-Crawl per-record gzip
members), HTTP payload handling (header strip, chunked decode,
resource records), malformed-stream errors, the Spark binaryFile →
mapInPandas source, and the CLI --input-warc end-to-end composition
(WARC → html extraction → rules → bucketed sink)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.sources import warc as W

DATE = "2024-01-17T08:15:30Z"


def _html(body_text: str) -> bytes:
    return (
        "<html><head><title>t</title></head><body><p>"
        + body_text
        + "</p></body></html>"
    ).encode()


PAGES = [
    ("https://a.example/x", DATE, _html("the first page body text here")),
    ("https://b.example/y", "2024-02-01T00:00:00Z",
     _html("the second page body text here")),
]


class TestPureParser:
    @pytest.mark.parametrize("gz", [False, True])
    def test_round_trip(self, gz):
        blob = W.build_warc(PAGES, gzip_members=gz)
        rows = list(W.iter_warc_pages(blob))
        assert [r["url"] for r in rows] == [p[0] for p in PAGES]
        assert [r["html"] for r in rows] == [p[2] for p in PAGES]
        assert rows[0]["warc_ts"].isoformat() == "2024-01-17T08:15:30"
        assert all(r["text"] is None and r["lang"] is None for r in rows)

    def test_non_response_records_skipped(self):
        blob = W.build_warc(PAGES)
        # splice in a warcinfo record
        info = (
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 5\r\n\r\nhello\r\n\r\n"
        )
        rows = list(W.iter_warc_pages(info + blob))
        assert len(rows) == len(PAGES)

    def test_chunked_transfer_decoded(self):
        body = b"hello world"
        http = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
        )
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://c.example/z\r\n"
            b"WARC-Date: " + DATE.encode() + b"\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        rows = list(W.iter_warc_pages(rec))
        assert rows[0]["html"] == body

    def test_resource_record_raw_payload(self):
        doc = b"<html>raw resource</html>"
        rec = (
            b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: https://d.example/r\r\n"
            b"WARC-Date: " + DATE.encode() + b"\r\n"
            b"Content-Length: " + str(len(doc)).encode() + b"\r\n\r\n"
            + doc + b"\r\n\r\n"
        )
        rows = list(W.iter_warc_pages(rec, record_types=("resource",)))
        assert rows[0]["html"] == doc

    def test_garbage_raises(self):
        with pytest.raises(W.WarcFormatError, match="version line"):
            list(W.iter_warc_pages(b"NOT A WARC AT ALL"))
        with pytest.raises(W.WarcFormatError, match="truncated"):
            blob = W.build_warc(PAGES)[:-30]
            list(W.iter_warc_pages(blob))
        with pytest.raises(W.WarcFormatError, match="gzip"):
            list(W.iter_warc_pages(b"\x1f\x8bnot really gzip data"))


class TestSparkSource:
    def test_read_both_layouts(self, spark, tmp_path):
        d = tmp_path / "warcs"
        d.mkdir()
        (d / "a.warc").write_bytes(W.build_warc(PAGES[:1]))
        (d / "b.warc.gz").write_bytes(
            W.build_warc(PAGES[1:], gzip_members=True)
        )
        (d / "ignored.txt").write_bytes(b"not a warc")
        df = W.read_warc(spark, str(d))
        rows = {r["url"]: r for r in df.collect()}
        assert set(rows) == {p[0] for p in PAGES}
        assert bytes(rows[PAGES[0][0]]["html"]) == PAGES[0][2]
        assert rows[PAGES[1][0]]["warc_ts"].year == 2024
        assert df.schema == W.PAGES_SCHEMA

    def test_launcher_end_to_end(self, spark, tmp_path, monkeypatch):
        """scripts/run_pipeline.py (the spark-submit launcher shape) runs
        ``cli filter``: it ingests, writes the composed output, and honours
        the ``DQS_RULE_*`` overrides like the CLI does.  Subprocess: the
        launcher owns (and stops) its SparkSession, so running it
        in-process would kill the shared test session."""
        import os
        import subprocess
        import sys as _sys
        from pathlib import Path

        from tests.test_domains import GOOD

        monkeypatch.chdir(tmp_path)
        d = tmp_path / "warcs"
        d.mkdir()
        (d / "a.warc").write_bytes(
            W.build_warc(
                [(f"https://rp{i}.example/p", DATE, _html(GOOD + f" v{i}"))
                 for i in range(4)]
            )
        )
        repo = Path(__file__).resolve().parent.parent

        def launch(out, **env):
            return subprocess.run(
                [_sys.executable, str(repo / "scripts" / "run_pipeline.py"),
                 "--cores", "4", "filter", "--input-warc", str(d),
                 "--output", out, "--buckets", "2"],
                capture_output=True, text=True, timeout=300, cwd=str(repo),
                env={**os.environ, **env},
            )

        out = str(tmp_path / "out")
        r = launch(out)
        assert r.returncode == 0, r.stderr[-2000:]
        assert spark.read.parquet(f"{out}/data").count() == 4
        # a threshold override reaches the launcher's rule plan
        strict = str(tmp_path / "strict")
        r = launch(strict, DQS_RULE_MIN_WORDS="100000")
        assert r.returncode == 0, r.stderr[-2000:]
        rows = spark.read.parquet(f"{strict}/data").collect()
        assert len(rows) == 4
        assert all(not x["keep"] and "min_words" in x["drop_reason"]
                   for x in rows)
        # a misspelled override is refused before Spark starts
        r = launch(str(tmp_path / "typo"), DQS_RULE_MIN_WORDZ="5")
        assert r.returncode != 0
        assert "unknown rule override" in r.stderr

    def test_cli_end_to_end(self, spark, tmp_path, monkeypatch):
        from mysql_data_quality_spark import cli
        from tests.test_domains import GOOD

        monkeypatch.chdir(tmp_path)
        d = tmp_path / "warcs"
        d.mkdir()
        pages = [
            (f"https://site{i}.example/p", DATE, _html(GOOD + f" v{i}"))
            for i in range(6)
        ]
        (d / "crawl.warc.gz").write_bytes(
            W.build_warc(pages, gzip_members=True)
        )
        out = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input-warc", str(d), "--output", out,
             "--buckets", "2"]
        )
        assert rc == 0
        dec = spark.read.parquet(f"{out}/data")
        assert dec.count() == 6
        # extraction ran: scrubbed text contains the body words
        got = dec.orderBy("url").collect()[0]
        assert "data table" in got["scrubbed_text"]
        assert got["keep"] is True


class TestWet:
    WET_PAGES = [
        ("https://a.example/x", DATE, "the first extracted text body"),
        ("https://b.example/y", "2024-02-01T00:00:00Z",
         "texte extrait déjà prêt ☕"),
    ]

    @pytest.mark.parametrize("gz", [False, True])
    def test_round_trip(self, gz):
        blob = W.build_wet(self.WET_PAGES, gzip_members=gz)
        rows = list(W.iter_warc_pages(blob, record_types=("conversion",)))
        assert [r["url"] for r in rows] == [p[0] for p in self.WET_PAGES]
        assert [r["text"] for r in rows] == [p[2] for p in self.WET_PAGES]
        assert all(r["html"] is None for r in rows)

    def test_default_reader_skips_conversion(self):
        """A mixed WARC+WET stream: the response reader must not pick up
        conversion records, and vice versa."""
        mixed = W.build_warc(PAGES) + W.build_wet(self.WET_PAGES)
        resp = list(W.iter_warc_pages(mixed))
        conv = list(W.iter_warc_pages(mixed, record_types=("conversion",)))
        assert [r["url"] for r in resp] == [p[0] for p in PAGES]
        assert [r["url"] for r in conv] == [p[0] for p in self.WET_PAGES]

    def test_spark_read_wet_feeds_rules_directly(self, spark, tmp_path):
        """read_wet: text arrives filled (no extraction stage), decisions
        run straight off the frame."""
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        d = tmp_path / "wet"
        d.mkdir()
        (d / "part1.warc.wet.gz").write_bytes(
            W.build_wet(self.WET_PAGES, gzip_members=True)
        )
        df = W.read_wet(spark, str(d))
        got = df.orderBy("url").collect()
        assert [r["text"] for r in got] == [p[2] for p in self.WET_PAGES]
        assert all(r["html"] is None for r in got)
        dec = QF.decisions(df)
        assert dec.count() == 2
        assert set(dec.columns) == set(QF.DECISION_COLS)
        # the same source through `cli filter --input-wet`
        from mysql_data_quality_spark import cli

        out = str(tmp_path / "out")
        assert cli.main(["filter", "--input-wet", str(d), "--output", out,
                         "--buckets", "2"]) == 0
        got = spark.read.parquet(f"{out}/data").orderBy("url").collect()
        assert [r["url"] for r in got] == [p[0] for p in self.WET_PAGES]
