"""SemDeDup-style semantic (embedding) dedup as a shipped stage (r5
verdict ask #5): exact-twin parity vs the DuckDB recursive-closure
oracle, LSH-path equivalence at high threshold, missing-embedding
semantics, plan shape (no cartesian in the scale path), and the CLI
composition (--dedup-semantic).

No reference counterpart (the reference has no embedding operators)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import dedup as D
from tests.conftest import SF_SMOKE


def _unit(angle_deg: float, dim: int = 8) -> list[float]:
    """Unit vector in the (0,1)-plane at the given angle — cosine between
    two of them is cos(delta), so cluster geometry is exact by design."""
    a = math.radians(angle_deg)
    v = [0.0] * dim
    v[0], v[1] = math.cos(a), math.sin(a)
    return v


# clusters: {1,2,3} within ~6 deg (cos >= 0.994), {5,6} within 3 deg,
# 4 and 7 isolated (>= 45 deg from everything)
EMB_ROWS = [
    (1, _unit(0.0)), (2, _unit(3.0)), (3, _unit(6.0)),
    (4, _unit(60.0)),
    (5, _unit(120.0)), (6, _unit(123.0)),
    (7, _unit(240.0)),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, f"document number {i} text") for i in range(1, 9)],
        "doc_id: long, text: string",
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        EMB_ROWS, "doc_id: long, embedding: array<double>"
    )


class TestSemanticDedup:
    def test_exact_twin_matches_duckdb_oracle(self, spark, corpus, emb, tmp_path):
        import duckdb

        out = D.semantic_dedup_corpus(
            corpus, emb, "doc_id", threshold=0.99, exact=True
        )
        got = sorted(r["doc_id"] for r in out.collect())
        # doc 8 has no embedding -> kept; clusters keep 1 and 5
        assert got == [1, 4, 5, 7, 8]

        cdir, edir = str(tmp_path / "c"), str(tmp_path / "e")
        corpus.write.parquet(cdir)
        emb.write.parquet(edir)
        con = duckdb.connect()
        con.sql(f"create view corpus as select * from '{cdir}/*.parquet'")
        con.sql(f"create view emb as select * from '{edir}/*.parquet'")
        oracle = sorted(
            r[0]
            for r in con.sql(
                D.semantic_dedup_corpus_sql(
                    "corpus", "emb", "doc_id", 0.99
                )
            ).fetchall()
        )
        assert got == oracle

    def test_lsh_path_matches_exact_at_high_threshold(self, spark, corpus, emb):
        """The scale path (hyperplane LSH + exact re-rank) returns the
        SAME survivors as brute force here: recall at cosine 0.99 with
        4x24 tables is ~1-1e-9, and hyperplanes are seed-fixed, so this
        is deterministic, not flaky."""
        lsh = D.semantic_dedup_corpus(
            corpus, emb, "doc_id", threshold=0.99
        )
        exact = D.semantic_dedup_corpus(
            corpus, emb, "doc_id", threshold=0.99, exact=True
        )
        assert sorted(r["doc_id"] for r in lsh.collect()) == sorted(
            r["doc_id"] for r in exact.collect()
        )

    def test_no_embeddings_is_noop(self, spark, corpus):
        empty = spark.createDataFrame(
            [], "doc_id: long, embedding: array<double>"
        )
        out = D.semantic_dedup_corpus(corpus, empty, "doc_id")
        assert out.count() == corpus.count()

    def test_scale_path_releases_its_signature_cache(self, spark):
        """lsh_near_pairs caches its signatures; semantic_dedup_corpus
        unpersists them once the clustering has consumed the pairs, so a
        long-lived driver keeps no cached frame per call."""
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        corpus = emb.select("vec_id")
        cached = spark.sparkContext._jsc.getPersistentRDDs().size
        before = cached()
        D.semantic_dedup_corpus(
            corpus, emb, "vec_id", threshold=0.9
        ).count()
        assert cached() == before

    def test_scale_path_plan_has_no_cartesian(self, spark, corpus, emb):
        from mysql_data_quality_spark.plans.compiler import formatted_plan

        df = D.semantic_dedup_corpus(
            corpus, emb, "doc_id", dim=8, threshold=0.99
        )
        p = formatted_plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


class TestSemanticDedupCli:
    def test_cli_composed(self, spark, tmp_path, monkeypatch, capsys):
        from mysql_data_quality_spark import cli
        from tests.test_domains import GOOD

        monkeypatch.chdir(tmp_path)
        urls = [f"https://ex{i}.org/p" for i in range(1, 8)]
        pages = (
            spark.createDataFrame(
                [(u, GOOD + f" variant {i}") for i, u in enumerate(urls, 1)],
                "url: string, text: string",
            )
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(None).cast("binary"))
        )
        embp = spark.createDataFrame(
            [(urls[i - 1], v) for i, v in EMB_ROWS],
            "url: string, embedding: array<double>",
        )
        in_dir, emb_dir = str(tmp_path / "in"), str(tmp_path / "emb")
        pages.write.parquet(in_dir)
        embp.write.parquet(emb_dir)
        out = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input", in_dir, "--output", out, "--buckets", "2",
             "--dedup-semantic", "0.99", "--semantic-embeddings", emb_dir]
        )
        assert rc == 0
        kept = {
            r["url"] for r in spark.read.parquet(f"{out}/data").collect()
        }
        # clusters {ex1,ex2,ex3} and {ex5,ex6} each keep their smallest url
        assert kept == {
            "https://ex1.org/p", "https://ex4.org/p",
            "https://ex5.org/p", "https://ex7.org/p",
        }

    def test_flag_requires_embeddings(self, tmp_path, capsys):
        from mysql_data_quality_spark import cli

        rc = cli.main(
            ["filter", "--input", str(tmp_path / "in"),
             "--output", str(tmp_path / "out"), "--dedup-semantic", "0.9"]
        )
        assert rc == 2
        assert "--semantic-embeddings" in capsys.readouterr().err


class TestSemanticHistory:
    """Cross-run semantic dedup vs a hyperplane-bucket history: two-run
    semantics, no-embedding pass-through, geometry/seed pinning, the
    deferred-commit composition, and CLI compaction (the store mechanics
    are checked in test_history_store.py)."""

    def _run(self, spark, rows, emb_rows, hd, **kw):
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        emb = spark.createDataFrame(
            emb_rows, "doc_id: long, embedding: array<double>"
        )
        return D.semantic_dedup_against_history(
            df, emb, "doc_id", hd, threshold=0.99, **kw
        )

    def test_two_run_semantics(self, spark, tmp_path):
        hd = str(tmp_path / "sh")
        out1 = self._run(
            spark,
            [(1, "a"), (2, "b"), (4, "c")],
            [(1, _unit(0.0)), (2, _unit(2.0)), (4, _unit(60.0))],
            hd,
        )
        # within-batch: 2 collapses into 1; 4 isolated
        assert sorted(r["doc_id"] for r in out1.collect()) == [1, 4]
        out2 = self._run(
            spark,
            [(10, "near copy of 1"), (11, "fresh"), (12, "no embedding")],
            [(10, _unit(1.0)), (11, _unit(240.0))],
            hd,
        )
        # 10 collides with kept doc 1's buckets; 11 is fresh; 12 has no
        # embedding -> kept (no evidence)
        assert sorted(r["doc_id"] for r in out2.collect()) == [11, 12]
        # run 2's survivors are history now
        out3 = self._run(
            spark, [(20, "near copy of 11")], [(20, _unit(241.0))], hd
        )
        assert out3.count() == 0

    def test_geometry_and_seed_pinned(self, spark, tmp_path):
        hd = str(tmp_path / "sh")
        self._run(spark, [(1, "a")], [(1, _unit(0.0))], hd)
        import os

        from mysql_data_quality_spark.operators.history import MANIFEST

        assert os.path.exists(f"{hd}/{MANIFEST}")
        with pytest.raises(ValueError, match="incomparable"):
            self._run(spark, [(2, "b")], [(2, _unit(5.0))], hd, bits=4)
        with pytest.raises(ValueError, match="incomparable"):
            self._run(spark, [(2, "b")], [(2, _unit(5.0))], hd, seed=7)

    def test_deferred_commit_composition(self, spark, tmp_path):
        hd = str(tmp_path / "sh")
        df = spark.createDataFrame(
            [(1, "a"), (4, "c")], "doc_id: long, text: string"
        )
        emb = spark.createDataFrame(
            [(1, _unit(0.0)), (4, _unit(60.0))],
            "doc_id: long, embedding: array<double>",
        )
        fresh = D.semantic_dedup_against_history(
            df, emb, "doc_id", hd, threshold=0.99, update_history=False
        )
        assert fresh.count() == 2
        # nothing committed yet: a re-probe of the same docs passes
        again = D.semantic_dedup_against_history(
            df, emb, "doc_id", hd, threshold=0.99, update_history=False
        )
        assert again.count() == 2
        D.commit_semantic_history(fresh, emb, "doc_id", hd, dim=8)
        out = self._run(
            spark, [(10, "near copy")], [(10, _unit(1.0))], hd
        )
        assert out.count() == 0

    def test_cli_compact_semantic(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        import json as _json
        import pathlib

        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        hd = str(tmp_path / "sh")
        self._run(spark, [(1, "a")], [(1, _unit(0.0))], hd)
        self._run(spark, [(5, "e")], [(5, _unit(120.0))], hd)
        rc = cli.main(["compact-history", hd])
        assert rc == 0
        payload = _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert payload["distinct_hashes"] > 0
        assert len(list(pathlib.Path(hd).glob("run=*"))) == 1
        out = self._run(spark, [(10, "x")], [(10, _unit(1.0))], hd)
        assert out.count() == 0


class TestSemanticHistoryCli:
    def test_filter_semantic_history_across_runs(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        """filter --semantic-history: run 2 drops a page whose EMBEDDING
        collides with a run-1 kept page (different url and text, so no
        other stage could explain the drop); bucket commits land only
        after the write."""
        import json

        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        long_text = (
            "a perfectly ordinary web page with enough words to pass "
            "every quality rule in the default profile of this engine "
            "and some more filler words for good measure today"
        )

        def _pages(rows):
            return spark.createDataFrame(
                rows, "url string, text string"
            ).selectExpr(
                "url", "timestamp('2024-01-01') as warc_ts",
                "cast(null as binary) as html", "text",
                "'en' as lang",
            )

        emb1 = spark.createDataFrame(
            [("https://a.com/1", _unit(0.0)), ("https://b.com/2", _unit(90.0))],
            "url string, embedding array<double>",
        )
        e1 = str(tmp_path / "emb1")
        emb1.write.parquet(e1)
        in1 = str(tmp_path / "in1")
        _pages([
            ("https://a.com/1", long_text + " alpha"),
            ("https://b.com/2", long_text + " beta"),
        ]).write.parquet(in1)
        hd = str(tmp_path / "semhist")
        rc = cli.main(
            ["filter", "--input", in1, "--output", str(tmp_path / "o1"),
             "--buckets", "2", "--semantic-history", hd,
             "--semantic-embeddings", e1]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["semantic_history_dir"] == hd
        assert spark.read.parquet(str(tmp_path / "o1") + "/data").count() == 2

        # run 2: new url/text, embedding ~= run-1 doc A; plus one fresh
        emb2 = spark.createDataFrame(
            [("https://c.com/3", _unit(1.0)), ("https://d.com/4", _unit(200.0))],
            "url string, embedding array<double>",
        )
        e2 = str(tmp_path / "emb2")
        emb2.write.parquet(e2)
        in2 = str(tmp_path / "in2")
        _pages([
            ("https://c.com/3", long_text + " gamma rewritten"),
            ("https://d.com/4", long_text + " delta"),
        ]).write.parquet(in2)
        rc = cli.main(
            ["filter", "--input", in2, "--output", str(tmp_path / "o2"),
             "--buckets", "2", "--semantic-history", hd,
             "--semantic-embeddings", e2]
        )
        assert rc == 0
        capsys.readouterr()
        out2 = spark.read.parquet(str(tmp_path / "o2") + "/data")
        urls = sorted(r["url"] for r in out2.select("url").collect())
        assert urls == ["https://d.com/4"]

    def test_semantic_history_requires_embeddings(
        self, tmp_path, monkeypatch, capsys
    ):
        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        rc = cli.main(
            ["filter", "--documents", "/root/testdata/sf0.001",
             "--output", str(tmp_path / "o"),
             "--semantic-history", str(tmp_path / "h")]
        )
        assert rc == 2
        assert "--semantic-history requires" in capsys.readouterr().err
