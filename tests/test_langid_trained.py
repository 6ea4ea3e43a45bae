"""Trained fastText-style language ID (rules/langid_trained.py):
numpy-vs-pure-Python featurizer parity (the adjudication for a hashed
feature space with no SQL twin), distillation quality vs the
marker-lexicon teacher, training determinism, UDF/driver scoring
parity + partition invariance, the annotate() hook, and the
distill-langid / --langid-model CLI surface."""

from __future__ import annotations

import json

import numpy as np
import pytest

from mysql_data_quality_spark.rules import langid as LX
from mysql_data_quality_spark.rules import langid_trained as LT

# shared, language-neutral filler (none of these appear in any lexicon)
FILLER = ["data", "web", "2024", "info", "item"]


def _sentences(lang: str, n: int = 40) -> list:
    """Deterministic corpus: every doc carries its language's marker
    words (so the lexicon teacher labels it unambiguously) plus neutral
    filler, with rotation for variety."""
    words = LX.LANG_MARKERS[lang]
    docs = []
    for i in range(n):
        toks = [words[(i + j) % len(words)] for j in range(6)]
        toks += [FILLER[(i + j) % len(FILLER)] for j in range(3)]
        k = i % 4
        docs.append(" ".join(toks[k:] + toks[:k]))
    return docs


def _corpus_rows() -> list:
    rows, i = [], 0
    for lang in LX.LANG_ORDER:
        for t in _sentences(lang):
            rows.append((f"https://{lang}.example.com/p/{i}", t, lang))
            i += 1
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        _corpus_rows(), "url string, text string, lang string"
    )


@pytest.fixture(scope="module")
def model(corpus):
    return LT.train_langid(corpus, dim=512, max_iter=80)


class TestFeaturizer:
    TEXTS = [
        "",
        None,
        "a",
        "The dog and the cat",
        "naïve café ☕ déjà vu",
        "ü" * 30,
        "the " * 100 + "end",
    ]

    def test_batch_matches_pure_python_reference(self):
        X = LT.featurize_batch(self.TEXTS, dim=256)
        for i, t in enumerate(self.TEXTS):
            ref = LT.featurize_reference(t, dim=256)
            assert np.array_equal(X[i], ref), repr(t)

    def test_l1_normalized(self):
        X = LT.featurize_batch(["hello world"], dim=128)
        assert X[0].sum() == pytest.approx(1.0)

    def test_empty_is_zero_row(self):
        X = LT.featurize_batch(["", None], dim=64)
        assert not X.any()

    def test_orders_distinguished(self):
        # same byte content, different gram order -> different buckets:
        # unigram-only vs trigram-only featurizations must differ
        a = LT.featurize_batch(["abcabc"], dim=64, orders=(1,))
        b = LT.featurize_batch(["abcabc"], dim=64, orders=(3,))
        assert not np.array_equal(a, b)


class TestTraining:
    def test_labels_are_all_lexicon_languages(self, model):
        assert model["labels"] == sorted(LX.LANG_ORDER)
        assert len(model["intercepts"]) == len(model["labels"])
        assert len(model["weights"]) == len(model["labels"])
        assert all(len(r) == model["dim"] for r in model["weights"])

    def test_teacher_agreement(self, model):
        rows = _corpus_rows()
        langs, conf = LT.score_batch([r[1] for r in rows], model)
        agree = np.mean([p == r[2] for p, r in zip(langs, rows)])
        assert agree >= 0.95, agree
        assert conf.min() > 0.0

    def test_training_is_deterministic(self, corpus):
        m1 = LT.train_langid(corpus, dim=128, max_iter=40)
        m2 = LT.train_langid(corpus, dim=128, max_iter=40)
        assert m1 == m2

    def test_single_class_raises(self, spark):
        df = spark.createDataFrame(
            [("u1", "the of and is it", "en")],
            "url string, text string, lang string",
        )
        with pytest.raises(ValueError, match="label classes"):
            LT.train_langid(df, dim=64)


class TestScoring:
    def test_empty_text_is_und_with_zero_conf(self, model):
        langs, conf = LT.score_batch(["", None, "the of and"], model)
        assert langs[0] == LX.UNDETERMINED and conf[0] == 0.0
        assert langs[1] == LX.UNDETERMINED and conf[1] == 0.0
        assert langs[2] == "en"

    def test_min_prob_threshold(self, model):
        langs, _ = LT.score_batch(["the of and"], model, min_prob=1.01)
        assert langs == [LX.UNDETERMINED]

    def test_udf_matches_driver(self, spark, corpus, model):
        got = (
            corpus.repartition(7)
            .withColumn("det", LT.detect_trained_udf(model)("text"))
            .select("url", "det")
            .toPandas()
            .sort_values("url")
        )
        rows = sorted(_corpus_rows())
        want, _ = LT.score_batch([r[1] for r in rows], model)
        assert got["det"].tolist() == want

    def test_model_json_round_trip(self, model, tmp_path):
        p = tmp_path / "m.json"
        p.write_text(json.dumps(model))
        loaded = LT.load_model(str(p))
        langs_a, _ = LT.score_batch(["el los es una"], model)
        langs_b, _ = LT.score_batch(["el los es una"], loaded)
        assert langs_a == langs_b

    def test_shape_mismatch_raises(self, model):
        bad = dict(model, labels=model["labels"][:-1])
        with pytest.raises(ValueError, match="shape mismatch"):
            LT.score_batch(["x"], bad)


class TestPipelineHook:
    def test_annotate_overrides_det_lang(self, spark, corpus, model):
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        ann = (
            QF.annotate(corpus, langid_model=model)
            .select("url", "det_lang")
            .toPandas()
            .sort_values("url")
        )
        rows = sorted(_corpus_rows())
        want, _ = LT.score_batch([r[1] for r in rows], model)
        assert ann["det_lang"].tolist() == want

    def test_decisions_schema_unchanged(self, spark, corpus, model):
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        base = QF.decisions(corpus)
        hooked = QF.decisions(corpus, langid_model=model)
        assert base.columns == hooked.columns


class TestCli:
    def test_distill_and_filter_e2e(
        self, spark, corpus, tmp_path, capsys, monkeypatch
    ):
        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)  # no stray .env
        src = str(tmp_path / "pages_parquet")
        corpus.selectExpr(
            "url",
            "timestamp('2024-01-01 00:00:00') as warc_ts",
            "cast(null as binary) as html",
            "text",
            "lang",
        ).write.parquet(src)
        wfile = str(tmp_path / "langid.json")
        rc = cli.main(
            ["distill-langid", "--input", src, "--output", wfile,
             "--dim", "256"]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["labels"] == sorted(LX.LANG_ORDER)
        model = LT.load_model(wfile)
        assert model["dim"] == 256

        outdir = str(tmp_path / "filtered")
        rc = cli.main(
            ["filter", "--input", src, "--output", outdir,
             "--buckets", "2", "--langid-model", wfile]
        )
        assert rc == 0
        fstats = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert fstats["written"] == 2
        dec = spark.read.parquet(f"{outdir}/data")
        assert dec.count() == corpus.count()
