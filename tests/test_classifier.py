"""Distilled quality classifier: MLlib training → exported pure-Column
scorer.  Pins scorer==MLlib-probability (1e-12), DuckDB float-tolerance
parity, training determinism, label separation, and the zero-shuffle
scoring plan."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import classifier as C
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def trained(spark):
    """One distilled model + its input frames, shared by the class (LR
    training is the slow part)."""
    from mysql_data_quality_spark.pipeline import pages as P
    from mysql_data_quality_spark.pipeline import quality_filter as QF

    pg = P.read_pages(spark, SF_CORRECT)
    weights = C.distill_quality_classifier(pg)
    dec = QF.decisions(pg).select("url", "keep")
    return pg, weights, dec


class TestQualityClassifier:
    def test_weights_shape(self, trained):
        _, w, _ = trained
        assert set(w) == {"intercept", "weights"}
        assert set(w["weights"]) == set(C.feature_cols())
        assert all(isinstance(v, float) for v in w["weights"].values())

    def test_separates_keep_from_drop(self, spark, trained):
        pg, w, dec = trained
        j = (
            C.scored_corpus(pg, w)
            .select("url", "quality_prob")
            .join(dec, "url")
            .toPandas()
        )
        keep = j[j.keep].quality_prob
        drop = j[~j.keep].quality_prob
        assert keep.mean() - drop.mean() > 0.2
        assert ((j.quality_prob >= 0.5) == j.keep).mean() > 0.75
        assert j.quality_prob.between(0, 1).all()

    def test_column_scorer_equals_mllib_probability(
        self, spark, trained, tmp_path
    ):
        """The exported Column expression IS the model: max abs diff vs
        MLlib's own probability output < 1e-12."""
        from pyspark.ml.classification import (
            LogisticRegression,
            LogisticRegressionModel,
        )
        from pyspark.ml.functions import vector_to_array

        pg, _, dec = trained
        feats = C._feature_frame(pg, "text")
        data = C._assembled(
            feats.join(
                dec.select(
                    "url", F.col("keep").cast("double").alias("_qc_label")
                ),
                "url",
            ),
            "_qc_label",
        )
        model = LogisticRegression(
            featuresCol="_qc_vec", labelCol="_qc_label",
            regParam=1e-3, maxIter=100, standardization=True,
        ).fit(data)
        exported = {
            "intercept": float(model.intercept),
            "weights": dict(
                zip(C.feature_cols(), map(float, model.coefficients))
            ),
        }
        # Spark 4.1: transform() on a freshly-fit model whose training
        # summary is attached pulls the session's ObservationManager
        # (not serializable) into the task closure whenever ANY
        # Observation ran earlier in the session (e.g. the cli filter
        # e2e tests).  A save/load roundtrip sheds the summary; the
        # coefficients are bit-identical.  Production never transform()s
        # — train_quality_classifier exports weights only.
        model.write().overwrite().save(str(tmp_path / "lr_model"))
        model = LogisticRegressionModel.load(str(tmp_path / "lr_model"))
        # one projection -> row-aligned pairs (the join's output order is
        # not stable across separate actions)
        both = (
            model.transform(data)
            .select(
                F.element_at(vector_to_array("probability"), 2).alias("p"),
                C.score_col(exported).alias("s"),
            )
            .toPandas()
        )
        assert float((both.p - both.s).abs().max()) < 1e-12

    def test_duckdb_scorer_parity(self, spark, trained):
        pg, w, _ = trained
        feats = C._feature_frame(pg, "text")
        fp = feats.select("url", *C.feature_cols()).orderBy("url").toPandas()
        con = duckdb.connect()
        con.register("f", fp)
        dk = con.sql(f"select {C.score_sql(w)} as s from f order by url").df()
        sp = (
            C.scored_corpus(pg, w)
            .select("url", "quality_prob")
            .orderBy("url")
            .toPandas()
        )
        assert (
            float(np.abs(sp.quality_prob.values - dk.s.values).max()) < 1e-12
        )

    def test_training_is_deterministic(self, spark, trained):
        from mysql_data_quality_spark.pipeline import pages as P

        _, w, _ = trained
        w2 = C.distill_quality_classifier(P.read_pages(spark, SF_CORRECT))
        assert abs(w["intercept"] - w2["intercept"]) < 1e-12
        for k in w["weights"]:
            assert abs(w["weights"][k] - w2["weights"][k]) < 1e-12, k

    def test_scoring_plan_has_no_shuffle(self, spark, trained):
        from mysql_data_quality_spark.plans.compiler import formatted_plan

        pg, w, _ = trained
        plan = formatted_plan(
            C.scored_corpus(pg, w).select("url", "quality_prob")
        )
        assert "Exchange" not in plan

    def test_weights_json_roundtrip(self, spark, trained):
        import json

        pg, w, _ = trained
        w2 = json.loads(json.dumps(w))
        a = (
            C.scored_corpus(pg, w)
            .select("quality_prob")
            .orderBy("quality_prob")
            .toPandas()["quality_prob"]
        )
        b = (
            C.scored_corpus(pg, w2)
            .select("quality_prob")
            .orderBy("quality_prob")
            .toPandas()["quality_prob"]
        )
        assert (a.values == b.values).all()


class TestDistillCli:
    def test_cli_distill_writes_weights(
        self, spark, tmp_path, monkeypatch, capsys
    ):
        import json

        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        out = tmp_path / "weights" / "qc.json"
        rc = cli.main(
            ["distill", "--documents", SF_CORRECT,
             "--output", str(out)]
        )
        assert rc == 0
        w = json.loads(out.read_text())
        assert set(w) == {"intercept", "weights"}
        assert set(w["weights"]) == set(C.feature_cols())
        stdout = capsys.readouterr().out
        info = json.loads(stdout.strip().splitlines()[-1])
        assert info["n_features"] == len(C.feature_cols())

    def test_parser_shape(self):
        from mysql_data_quality_spark import cli

        p = cli.build_parser()
        a = p.parse_args(
            ["distill", "--documents", "/d", "--output", "/w.json",
             "--profile", "full"]
        )
        assert a.profile == "full" and a.output == "/w.json"
        with pytest.raises(SystemExit):
            p.parse_args(["distill", "--output", "/w.json"])  # no source
