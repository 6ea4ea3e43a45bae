"""Unicode script detection: hand vectors (incl. Cyrillic spoofing),
DuckDB exact parity on features + distribution, tie-break contract,
NULL/empty safety, and the zero-shuffle plan."""

from __future__ import annotations

import duckdb

from mysql_data_quality_spark.functions import scripts as SC
from tests.conftest import SF_CORRECT

VECTORS = [
    (1, "plain latin text only"),
    (2, "чисто русский текст"),                      # cyrillic
    (3, "pаypal lоgin"),                             # latin w/ cyr а,о spoof
    (4, "日本語のテキストです"),                      # han + hiragana
    (5, "한국어 텍스트"),                             # hangul
    (6, "mixed latin και ελληνικά"),                 # latin + greek
    (7, "1234 ... !!!"),                             # no letters -> none
    (8, ""),
    (9, None),
]


class TestScriptDetection:
    def _df(self, spark):
        return spark.createDataFrame(VECTORS, "doc_id: bigint, text: string")

    def test_vectors(self, spark):
        rows = {
            r["doc_id"]: r
            for r in SC.with_script_features(self._df(spark)).collect()
        }
        assert rows[1]["dominant_script"] == "latin"
        assert rows[2]["dominant_script"] == "cyrillic"
        # the spoof doc: latin dominates, but cyrillic chars exist
        assert rows[3]["dominant_script"] == "latin"
        assert rows[3]["script_cyrillic_chars"] == 2  # the spoofed а, о
        assert rows[4]["script_han_chars"] > 0
        assert rows[4]["script_hiragana_chars"] > 0
        assert rows[5]["dominant_script"] == "hangul"
        assert rows[7]["dominant_script"] == "none"
        assert rows[8]["dominant_script"] == "none"
        assert rows[9]["dominant_script"] == "none"

    def test_tiebreak_priority(self, spark):
        # equal latin and cyrillic counts -> latin (first in SCRIPTS)
        df = spark.createDataFrame([(1, "abc где")], "doc_id: bigint, text: string")
        row = SC.with_script_features(df).collect()[0]
        assert row["script_latin_chars"] == row["script_cyrillic_chars"] == 3
        assert row["dominant_script"] == "latin"

    def test_duckdb_parity_vectors_and_documents(self, spark, duck):
        df = self._df(spark)
        sp = (
            SC.with_script_features(df)
            .orderBy("doc_id")
            .toPandas()
            .fillna({"text": ""})
        )
        con = duckdb.connect()
        con.register("v", df.toPandas())
        dk = (
            con.sql(SC.script_features_sql("v") + " order by doc_id")
            .df()
            .fillna({"text": ""})
        )
        assert list(sp.columns) == list(dk.columns)
        for c in sp.columns:
            assert (sp[c].values == dk[c].values).all(), c
        # real corpus: distribution rollup matches too
        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        spd = (
            SC.script_distribution(docs)
            .orderBy("dominant_script")
            .toPandas()
        )
        dkd = duck.sql(
            "select dominant_script, count(*) as n_docs, "
            "sum(length(coalesce(text, ''))) as total_chars from ("
            + SC.script_features_sql("documents")
            + ") group by 1 order by 1"
        ).df()
        assert (spd.dominant_script.values == dkd.dominant_script.values).all()
        assert (spd.n_docs.values == dkd.n_docs.values).all()
        assert (spd.total_chars.values == dkd.total_chars.values).all()

    def test_zero_shuffles(self, spark):
        from mysql_data_quality_spark.plans.compiler import formatted_plan

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        plan = formatted_plan(SC.with_script_features(docs))
        assert "Exchange" not in plan
