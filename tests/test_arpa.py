"""ARPA n-gram LM: parse + backoff semantics + Arrow scoring parity
(the KenLM-format upgrade path for the perplexity rule)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.rules import arpa

LN10 = math.log(10.0)

# A tiny but complete ARPA file: KenLM lmplz section layout, tab-separated
# logprob / ngram / backoff columns, <unk> listed.
TINY_ARPA = """\
\\data\\
ngram 1=5
ngram 2=3

\\1-grams:
-1.0\tthe\t-0.30103
-1.30103\tcat\t-0.30103
-1.30103\tsat\t-0.30103
-1.69897\tmat\t0.0
-3.0\t<unk>

\\2-grams:
-0.30103\tthe cat
-0.52288\tcat sat
-0.69897\tthe mat

\\end\\
"""


@pytest.fixture(scope="module")
def model():
    return arpa.parse_arpa(TINY_ARPA)


class TestParse:
    def test_counts_and_tables(self, model):
        assert model.order == 2
        assert model.counts == (5, 3)
        assert len(model.ngrams[0]) == 5 and len(model.ngrams[1]) == 3
        # log10 -> ln conversion
        logp, backoff = model.ngrams[0][("the",)]
        assert logp == -1.0 * LN10
        assert backoff == -0.30103 * LN10
        # bigram rows carry no backoff column -> 0.0
        assert model.ngrams[1][("the", "cat")] == (-0.30103 * LN10, 0.0)
        assert model.unk_ln == -3.0 * LN10  # listed <unk> becomes the floor

    def test_malformed_raises(self):
        with pytest.raises(ValueError, match="data"):
            arpa.parse_arpa("\\1-grams:\n-1.0\tx\n\\end\\\n")
        with pytest.raises(ValueError, match="header says"):
            arpa.parse_arpa(TINY_ARPA.replace("ngram 2=3", "ngram 2=4"))
        with pytest.raises(ValueError, match="end"):
            arpa.parse_arpa(TINY_ARPA.replace("\\end\\", ""))
        with pytest.raises(ValueError, match="2-grams"):
            arpa.parse_arpa(
                TINY_ARPA.replace("-0.30103\tthe cat", "-0.30103\tthe")
            )


class TestBackoff:
    def test_seen_bigram_uses_bigram(self, model):
        assert model.logprob("cat", ("the",)) == -0.30103 * LN10

    def test_unseen_bigram_backs_off(self, model):
        # p(mat | cat) = backoff(cat) + p(mat): both listed
        want = (-0.30103 * LN10) + (-1.69897 * LN10)
        assert model.logprob("mat", ("cat",)) == pytest.approx(want, abs=0)

    def test_context_without_backoff_entry(self, model):
        # context "mat" has backoff 0.0 -> plain unigram fallthrough
        assert model.logprob("the", ("mat",)) == -1.0 * LN10

    def test_oov_uses_unk(self, model):
        assert model.logprob("zzz", ()) == -3.0 * LN10
        # OOV after a context: backoff(context) + unk
        want = (-0.30103 * LN10) + (-3.0 * LN10)
        assert model.logprob("zzz", ("the",)) == pytest.approx(want, abs=0)

    def test_avg_logprob_sequential(self, model):
        # "The cat sat" (lowercased): p(the) + p(cat|the) + p(sat|cat)
        want = (
            (-1.0 * LN10) + (-0.30103 * LN10) + (-0.52288 * LN10)
        ) / 3.0
        assert model.avg_logprob("The cat sat") == want
        assert model.avg_logprob("") == model.unk_ln
        assert model.avg_logprob(None) == model.unk_ln

    def test_long_doc_context_bounded(self, model):
        # 50k tokens must score in one pass without O(n^2) context growth
        text = "the cat sat " * 16_667
        got = model.avg_logprob(text)
        assert got < 0.0 and math.isfinite(got)


class TestSparkScoring:
    def test_udf_matches_driver_and_partitioning(self, spark, model):
        rows = [
            (1, "The cat sat"),
            (2, "the mat"),
            (3, "totally unseen words here"),
            (4, ""),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
        udf = arpa.avg_logprob_pandas_udf(model, sc=spark.sparkContext)
        for parts in (1, 7):
            got = {
                r["doc_id"]: r["s"]
                for r in df.repartition(parts)
                .select("doc_id", udf(F.col("text")).alias("s"))
                .collect()
            }
            for doc_id, text in rows:
                assert got[doc_id] == model.avg_logprob(text), doc_id

    def test_annotate_lm_plugs_into_pipeline(self, spark, model):
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from tests.conftest import SF_SMOKE

        pages = P.read_pages(spark, SF_SMOKE).limit(50)
        ann = QF.annotate(pages, lm=model)
        rows = ann.select(
            "url", "text", "avg_logp", "hit_low_logprob"
        ).collect()
        assert rows
        for r in rows:
            want = model.avg_logprob(r["text"])
            assert r["avg_logp"] == want, r["url"]
            # the low_logprob rule thresholds on the MODEL's scores now
            assert r["hit_low_logprob"] == (want < -6.0), r["url"]
        # this tiny model scores real web text as mostly-OOV -> the rule
        # actually fires (the plug-in changes decisions, not just a col)
        assert any(r["hit_low_logprob"] for r in rows)

    def test_decisions_lm_equals_annotate_projection(self, spark, model):
        """``decisions`` takes the same ``lm`` override as ``annotate``
        and returns the rows of its ``DECISION_COLS`` projection."""
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from tests.conftest import SF_SMOKE

        pages = P.read_pages(spark, SF_SMOKE)
        got = QF.decisions(pages, lm=model).orderBy("url").toPandas()
        want = (
            QF.annotate(pages, lm=model)
            .select(*QF.DECISION_COLS)
            .orderBy("url")
            .toPandas()
        )
        assert list(got.columns) == list(QF.DECISION_COLS)
        assert got.equals(want)
        # the model's scores decide: some decisions differ from the
        # default perplexity stand-in's
        default = QF.decisions(pages).orderBy("url").toPandas()
        assert (got["drop_reason"] != default["drop_reason"]).any()

    def test_cli_filter_arpa_model(self, spark, tmp_path, monkeypatch, capsys):
        """filter --arpa-model PATH: decisions reflect the real model's
        low_logprob scoring end-to-end."""
        import json

        from mysql_data_quality_spark import cli
        from tests.conftest import SF_SMOKE

        monkeypatch.chdir(tmp_path)
        arpa_path = tmp_path / "tiny.arpa"
        arpa_path.write_text(TINY_ARPA)
        out = str(tmp_path / "out")
        rc = cli.main(
            ["filter", "--documents", SF_SMOKE, "--output", out,
             "--buckets", "2", "--arpa-model", str(arpa_path)]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["written"] == 2
        dec = spark.read.parquet(f"{out}/data")
        # the tiny model scores web text mostly-OOV -> low_logprob drops
        assert dec.where("drop_reason like '%low_logprob%'").count() > 0


MARKED_ARPA = """\
\\data\\
ngram 1=5
ngram 2=3

\\1-grams:
-99\t<s>\t-0.5
-1.0\tthe\t-0.30103
-1.30103\tcat\t-0.30103
-0.60206\t</s>
-3.0\t<unk>

\\2-grams:
-0.30103\t<s> the
-0.52288\tthe cat
-0.39794\tcat </s>

\\end\\
"""


class TestRound4ReviewFixes:
    def test_sentence_markers_condition_scoring(self):
        """KenLM score() semantics when the model carries <s>/</s>: first
        token conditions on <s>, a final </s> event is scored, and the
        denominator is tokens + 1; <s>'s -99 placeholder never enters."""
        m = arpa.parse_arpa(MARKED_ARPA)
        assert m.has_sentence_markers
        # "the cat": p(the|<s>) + p(cat|the) + p(</s>|cat), / 3
        want = (
            (-0.30103 * LN10) + (-0.52288 * LN10) + (-0.39794 * LN10)
        ) / 3.0
        assert m.avg_logprob("the cat") == want
        # markerless model unchanged: bare-unigram start, no </s> event
        m0 = arpa.parse_arpa(TINY_ARPA)
        assert not m0.has_sentence_markers

    def test_space_delimited_format(self):
        """Space-separated ARPA (no tabs) parses, including lines whose
        trailing backoff field must not be folded into the n-gram."""
        spaced = TINY_ARPA.replace("\t", " ")
        m = arpa.parse_arpa(spaced)
        assert m.ngrams[0][("the",)] == (-1.0 * LN10, -0.30103 * LN10)
        assert m.ngrams[1][("the", "cat")] == (-0.30103 * LN10, 0.0)

    def test_cased_model_loads_with_lowercase_fold(self):
        """A model listing case-variant n-grams ('The' and 'the') must
        load under lowercase=True — counts validate against parsed LINES,
        the folded key keeps the higher probability."""
        cased = TINY_ARPA.replace(
            "-1.0\tthe\t-0.30103",
            "-1.0\tthe\t-0.30103\n-0.5\tThe\t-0.30103",
        ).replace("ngram 1=5", "ngram 1=6")
        m = arpa.parse_arpa(cased)
        assert m.ngrams[0][("the",)][0] == -0.5 * LN10  # higher prob won
        # and lowercase=False keeps them distinct
        m2 = arpa.parse_arpa(cased, lowercase=False)
        assert m2.ngrams[0][("The",)][0] == -0.5 * LN10
        assert m2.ngrams[0][("the",)][0] == -1.0 * LN10

    def test_undeclared_section_raises_valueerror(self):
        bad = TINY_ARPA.replace("\\2-grams:", "\\3-grams:").replace(
            "ngram 2=3", ""
        ).replace("-0.30103\tthe cat", "-0.30103\tthe cat x")
        with pytest.raises(ValueError, match="not declared"):
            arpa.parse_arpa(bad)

    def test_file_parse_streams(self, tmp_path):
        p = tmp_path / "m.arpa"
        p.write_text(TINY_ARPA)
        m = arpa.parse_arpa_file(str(p))
        assert m.counts == (5, 3)

    def test_broadcast_cached_and_closure_free(self, spark, model):
        """One broadcast per (model, app); the UDF closure must not carry
        the model itself (a GB model would otherwise ship per call)."""
        sc = spark.sparkContext
        if hasattr(model, "_bc_cache"):
            del model._bc_cache
        arpa.avg_logprob_pandas_udf(model, sc=sc)
        first = model._bc_cache[1]
        arpa.avg_logprob_pandas_udf(model, sc=sc)
        assert model._bc_cache[1] is first  # reused, not re-broadcast
        # the broadcast copy itself must not contain the cache attr
        assert not hasattr(first.value, "_bc_cache")


class TestKenlmFastPath:
    """r4 verdict #1/ask #3: optional kenlm C-bindings scorer, env-gated
    like the Iceberg sink — parity-pinned where installed,
    honest fallback where not (this sandbox)."""

    def test_source_path_recorded(self, tmp_path):
        p = tmp_path / "m.arpa"
        p.write_text(TINY_ARPA)
        m = arpa.parse_arpa_file(str(p))
        assert m.source_path == str(p)
        assert arpa.parse_arpa(TINY_ARPA).source_path is None

    def test_gating_without_kenlm_falls_back(self, tmp_path):
        """With the bindings absent, _load_kenlm returns None and the UDF
        batch scorer produces the pure-Python scores (exercised driver-
        side through the same score path the UDF closure calls)."""
        try:
            import kenlm  # noqa: F401

            pytest.skip("kenlm installed — fallback path not reachable")
        except ImportError:
            pass
        assert arpa._load_kenlm(str(tmp_path / "nope.arpa")) is None

    def test_kenlm_parity_when_installed(self, tmp_path):
        """Parity: pure-Python backoff scorer == kenlm on the tiny model
        (runs only where the bindings exist; models without <s> markers
        so bos/eos handling can't mask a backoff bug)."""
        kenlm = pytest.importorskip("kenlm")
        p = tmp_path / "m.arpa"
        p.write_text(TINY_ARPA)
        m = arpa.parse_arpa_file(str(p))
        km = kenlm.Model(str(p))
        for text in (
            "the cat sat",
            "the dog",
            "unknownword the cat",
            "cat cat cat sat",
        ):
            assert math.isclose(
                arpa._kenlm_avg_logprob(km, m, text),
                m.avg_logprob(text),
                rel_tol=1e-6,
            ), text

    def test_case_folded_flag_and_gate(self, tmp_path):
        """r5 review: a model whose lowercase folding CHANGED keys must
        not take the kenlm path (kenlm loads the raw cased file — folded
        query tokens would score <unk> against it)."""
        cased = TINY_ARPA.replace(
            "-1.0\tthe\t-0.30103",
            "-1.0\tthe\t-0.30103\n-0.5\tThe\t-0.30103",
        ).replace("ngram 1=5", "ngram 1=6")
        assert arpa.parse_arpa(cased).case_folded is True
        assert arpa.parse_arpa(TINY_ARPA).case_folded is False
        assert arpa.parse_arpa(cased, lowercase=False).case_folded is False
        # gate: with a fake kenlm installed, the folded model must still
        # use the pure-Python scorer; the unfolded model takes kenlm
        import sys

        import pandas as pd

        class _FakeModel:
            def __init__(self, path):
                pass

            def score(self, s, bos=False, eos=False):
                return -42.0  # sentinel log10 total

        fake = type(sys)("kenlm")
        fake.Model = _FakeModel
        sys.modules["kenlm"] = fake
        try:
            arpa._KENLM_CACHE.clear()
            p = tmp_path / "m.arpa"
            p.write_text(cased)
            m_folded = arpa.parse_arpa_file(str(p))
            got = arpa._score_texts(m_folded, pd.Series(["the cat"]), True)
            assert got[0] == m_folded.avg_logprob("the cat")  # pure Python
            p2 = tmp_path / "m2.arpa"
            p2.write_text(TINY_ARPA)
            m_plain = arpa.parse_arpa_file(str(p2))
            got2 = arpa._score_texts(m_plain, pd.Series(["the cat"]), True)
            # fake kenlm sentinel: -42 * ln10 / events (tokens + 1 iff
            # the model carries sentence markers)
            import math

            events = 2 + (1 if m_plain.has_sentence_markers else 0)
            assert got2[0] == -42.0 * math.log(10.0) / events
        finally:
            del sys.modules["kenlm"]
            arpa._KENLM_CACHE.clear()

    def test_kenlm_load_failure_falls_back(self, tmp_path):
        """r5 review: bindings importable but the model file unloadable
        on this process (driver-local path never shipped) must fall back
        to the pure-Python scorer, once, with the failure cached."""
        import sys

        import pandas as pd

        calls = []

        class _Boom:
            def __init__(self, path):
                calls.append(path)
                raise OSError("no such model file")

        fake = type(sys)("kenlm")
        fake.Model = _Boom
        sys.modules["kenlm"] = fake
        try:
            arpa._KENLM_CACHE.clear()
            p = tmp_path / "m.arpa"
            p.write_text(TINY_ARPA)
            m = arpa.parse_arpa_file(str(p))
            for _ in range(3):
                got = arpa._score_texts(m, pd.Series(["the cat"]), True)
                assert got[0] == m.avg_logprob("the cat")
            assert len(calls) == 1  # load failure cached, not retried
        finally:
            del sys.modules["kenlm"]
            arpa._KENLM_CACHE.clear()

    def test_strict_mode_raises_instead_of_diverging(self, tmp_path):
        """r5 second-pass review: when the DRIVER resolved the kenlm
        scorer, an executor that can't load it must RAISE — a silent
        pure-Python fallback would score partitions with two different
        scorers in one job, flipping threshold-adjacent keep/drop
        decisions with task placement (and under retries)."""
        import sys

        import pandas as pd
        import pytest

        class _Boom:
            def __init__(self, path):
                raise OSError("no such model file on this node")

        fake = type(sys)("kenlm")
        fake.Model = _Boom
        sys.modules["kenlm"] = fake
        try:
            arpa._KENLM_CACHE.clear()
            p = tmp_path / "m.arpa"
            p.write_text(TINY_ARPA)
            m = arpa.parse_arpa_file(str(p))
            with pytest.raises(RuntimeError, match="selected on the driver"):
                arpa._score_texts(
                    m, pd.Series(["the cat"]), True, strict=True
                )
            # non-strict (no driver resolution) still falls back quietly
            got = arpa._score_texts(m, pd.Series(["the cat"]), True)
            assert got[0] == m.avg_logprob("the cat")
        finally:
            del sys.modules["kenlm"]
            arpa._KENLM_CACHE.clear()

    def test_udf_resolution_is_pure_python_without_kenlm(
        self, spark, tmp_path
    ):
        """Driver-side resolution in the sandbox (no kenlm): the UDF
        closure must carry kenlm_resolved=False — one scorer per job,
        chosen once — and a RuntimeWarning must say the requested fast
        path is unavailable (a 10-100x cost change should never be
        silent).  use_kenlm=False builds silently."""
        import warnings

        import pytest

        p = tmp_path / "m.arpa"
        p.write_text(TINY_ARPA)
        m = arpa.parse_arpa_file(str(p))
        assert arpa._load_kenlm(str(p)) is None
        with pytest.warns(RuntimeWarning, match="unavailable on the driver"):
            arpa.avg_logprob_pandas_udf(m)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            arpa.avg_logprob_pandas_udf(m, use_kenlm=False)
