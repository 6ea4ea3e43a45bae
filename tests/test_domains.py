"""Domain-level quality filtering: keep-rate stats parity vs DuckDB,
exact-row filtered-corpus parity on real sf0.01 pages, the whole-site
semantics (a junk domain's passing page drops too; small domains are
protected by min_docs), plan shape (broadcast anti join), and guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import domains as D
from mysql_data_quality_spark.pipeline import pages as P
from tests.conftest import SF_CORRECT

JUNK = "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) !!!! ???? ;;;;"
# vocab-dense under the pinned unigram LM so the decisions keep it
GOOD = (
    "the data table has a key and the query can join this row with "
    "that column value for the group and the sort will merge all of "
    "it in order."
)


def _synth(spark):
    rows = [
        # junkfarm.com: 3 junk + 1 good page -> keep_rate 0.25
        ("https://junkfarm.com/a", JUNK),
        ("https://junkfarm.com/b", JUNK),
        ("https://junkfarm.com/c", JUNK),
        ("https://junkfarm.com/d", GOOD),
        # fine.org: 3 good + 1 junk -> 0.75
        ("https://fine.org/a", GOOD),
        ("https://fine.org/b", GOOD),
        ("https://fine.org/c", GOOD),
        ("https://fine.org/d", JUNK),
        # tiny.net: 1 junk page, below the min_docs evidence floor
        ("https://tiny.net/only", JUNK),
        # no parseable host -> domain '' groups together; keep them
        ("not a url", GOOD),
    ]
    return (
        spark.createDataFrame(rows, "url: string, text: string")
        .withColumn("lang", F.lit("en"))
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("html", F.lit(None).cast("binary"))
    )


class TestDomainQualityFilter:
    def test_whole_site_semantics(self, spark):
        pg = _synth(spark)
        out = D.domain_quality_filtered(pg, threshold=0.5, min_docs=2)
        kept = {r["url"] for r in out.select("url").collect()}
        # junkfarm dies WHOLE (its good page /d too); fine.org survives
        # whole; tiny.net survives on the evidence floor
        assert kept == {
            "https://fine.org/a", "https://fine.org/b",
            "https://fine.org/c", "https://fine.org/d",
            "https://tiny.net/only", "not a url",
        }
        # survivors byte-identical to input rows
        surv = out.orderBy("url").toPandas()
        orig = (
            pg.where(F.col("url").isin(list(kept)))
            .orderBy("url").toPandas()
        )
        assert (surv.text.values == orig.text.values).all()
        assert list(surv.columns) == list(orig.columns)

    def test_stats_values(self, spark):
        st = {
            r["domain"]: r
            for r in D.domain_keep_stats(_synth(spark)).collect()
        }
        assert st["junkfarm.com"]["n_docs"] == 4
        assert st["junkfarm.com"]["n_keep"] == 1
        assert st["junkfarm.com"]["keep_rate"] == 0.25
        assert st["fine.org"]["n_keep"] == 3
        assert st["tiny.net"]["n_docs"] == 1
        assert "" in st  # hostless rows group under ''

    def test_duckdb_stats_parity(self, spark, duck):
        sp = (
            D.domain_keep_stats(P.read_pages(spark, SF_CORRECT))
            .orderBy("domain")
            .toPandas()
        )
        dk = duck.sql(
            "with pages as (" + P.pages_cte_sql() + ") "
            + D.domain_keep_stats_sql("pages")
            + " order by domain"
        ).df()
        assert len(sp) == len(dk)
        for c in ("domain", "n_docs", "n_keep", "keep_rate"):
            assert (sp[c].values == dk[c].values).all(), c

    def test_duckdb_filtered_corpus_parity(self, spark, duck):
        # threshold above some real sf0.01 domains' keep rates so the
        # filter actually bites, below others' so survivors remain
        st = D.domain_keep_stats(P.read_pages(spark, SF_CORRECT)).toPandas()
        thr = float(st.keep_rate.median())
        assert 0.0 < thr < 1.0
        sp = (
            D.domain_quality_filtered(
                P.read_pages(spark, SF_CORRECT), thr, min_docs=2
            )
            .select("url", "text")
            .orderBy("url")
            .toPandas()
        )
        dk = duck.sql(
            "with pages as (" + P.pages_cte_sql() + "), filtered as ("
            + D.domain_quality_filtered_sql("pages", thr, min_docs=2)
            + ") select url, text from filtered order by url"
        ).df()
        assert 0 < len(sp) < int(st.n_docs.sum())
        assert len(sp) == len(dk)
        assert (sp.url.values == dk.url.values).all()
        assert (sp.text.values == dk.text.values).all()

    def test_droplist_is_broadcast_anti_join(self, spark):
        out = D.domain_quality_filtered(_synth(spark), 0.5, min_docs=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_cli_e2e_vs_composed_oracle(
        self, spark, tmp_path, monkeypatch
    ):
        import duckdb

        from mysql_data_quality_spark import cli
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        monkeypatch.chdir(tmp_path)
        src = str(tmp_path / "pages_in")
        _synth(spark).write.parquet(src)
        out_dir = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--input", src, "--output", out_dir,
             "--buckets", "2",
             "--domain-threshold", "0.5", "--domain-min-docs", "2"]
        )
        assert rc == 0
        got = (
            spark.read.parquet(f"{out_dir}/data")
            .drop("bucket")
            .orderBy("url")
            .toPandas()
        )
        assert "https://junkfarm.com/d" not in set(got.url)
        con = duckdb.connect()
        con.sql(f"create view pages as select * from '{src}/*.parquet'")
        oracle = con.sql(
            "with filtered as ("
            + D.domain_quality_filtered_sql("pages", 0.5, min_docs=2)
            + ") " + QF.decisions_sql("filtered") + " order by url"
        ).df()
        assert list(got.columns) == list(oracle.columns)
        assert len(got) == len(oracle)
        for c in got.columns:
            assert (got[c].values == oracle[c].values).all(), c

    def test_guards(self, spark):
        st = D.domain_keep_stats(_synth(spark))
        with pytest.raises(ValueError):
            D.bad_domains(st, 0.0)
        with pytest.raises(ValueError):
            D.bad_domains(st, 1.5)
        with pytest.raises(ValueError):
            D.bad_domains(st, 0.5, min_docs=0)
