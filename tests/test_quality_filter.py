"""Quality-filter pipeline tests: oracle parity, UDF-path parity,
determinism across partitioning, edge-case handling, metrics, and reports
(FIXTURES.md F0/F5/F6).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import types as T

from mysql_data_quality_spark.pipeline import pages as P
from mysql_data_quality_spark.pipeline import quality_filter as QF
from tests.conftest import SF_CORRECT, SF_SMOKE

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def pages(spark):
    return P.read_pages(spark, SF_CORRECT)


def _oracle(duck, sql: str):
    return duck.sql(
        "with pages as (" + P.pages_cte_sql() + ") " + sql + " order by url"
    ).df()


class TestOracleParity:
    def test_decisions_match_duckdb(self, spark, duck, pages):
        dec = QF.decisions(pages).orderBy("url").toPandas()
        oracle = _oracle(duck, QF.decisions_sql("pages"))
        assert len(dec) == len(oracle) > 0
        for c in dec.columns:
            assert (dec[c].values == oracle[c].values).all(), c

    def test_flat_hits_match_duckdb(self, spark, duck, pages):
        fh = QF.flat_hits(pages).orderBy("url").toPandas()
        oracle = _oracle(duck, QF.flat_hits_sql("pages"))
        for c in fh.columns:
            assert (fh[c].values == oracle[c].values).all(), c

    def test_every_rule_fires_somewhere(self, spark, pages):
        """Thresholds must be meaningful: each drop rule with a plausible
        trigger in the corpus has at least one hit, and both keep classes
        are populated."""
        fh = QF.flat_hits(pages).toPandas()
        for c in (
            "hit_min_words", "hit_repetition", "hit_symbol_ratio",
            "hit_stopword_absent", "hit_lang_undetected", "hit_low_logprob",
            "hit_toxicity_blocklist", "hit_pii_email", "hit_pii_phone",
            "hit_pii_ipv4", "hit_lang_mismatch",
        ):
            assert fh[c].sum() > 0, f"{c} never fires"
        dec = QF.decisions(pages).toPandas()
        assert 0.2 < dec["keep"].mean() < 0.95


class TestUdfParity:
    def test_pandas_udf_path_identical(self, spark, pages):
        a = QF.decisions(pages, use_arrow_udfs=False).orderBy("url").toPandas()
        b = QF.decisions(pages, use_arrow_udfs=True).orderBy("url").toPandas()
        for c in a.columns:
            assert (a[c].values == b[c].values).all(), c

    def test_fast_and_layered_annotate_schema_identical(self, spark, pages):
        """The default path and a UDF-override path (``det_lang``/
        ``avg_logp`` substituted in the feature level) must produce the
        IDENTICAL schema — names, order, types — or downstream
        name-based consumers (metrics, CLI, streaming) silently diverge
        between the two."""
        default = QF.annotate(pages)
        udf = QF.annotate(pages, use_arrow_udfs=True)
        assert [
            (f.name, f.dataType) for f in default.schema.fields
        ] == [(f.name, f.dataType) for f in udf.schema.fields]
        # and on a frame whose input columns collide with generated
        # names (documents carries its own n_chars): replace-in-place
        from pyspark.sql import functions as F

        docs = pages.withColumn("n_chars", F.lit(0).cast("bigint"))
        default2 = QF.annotate(docs)
        udf2 = QF.annotate(docs, use_arrow_udfs=True)
        assert [f.name for f in default2.schema.fields] == [
            f.name for f in udf2.schema.fields
        ]
        assert default2.columns.count("n_chars") == 1


class TestDeterminism:
    def test_partitioning_invariance(self, spark, pages):
        """north rule: identical keep/drop + byte-identical scrubbed_text
        per url regardless of parallelism/partitioning."""
        a = QF.decisions(pages.repartition(1)).orderBy("url").toPandas()
        b = QF.decisions(pages.repartition(13)).orderBy("url").toPandas()
        c = QF.decisions(pages.coalesce(2)).orderBy("url").toPandas()
        for col in a.columns:
            assert (a[col].values == b[col].values).all()
            assert (a[col].values == c[col].values).all()

    def test_two_runs_identical(self, spark, pages):
        a = QF.decisions(pages).orderBy("url").toPandas()
        b = QF.decisions(pages).orderBy("url").toPandas()
        for col in a.columns:
            assert (a[col].values == b[col].values).all()


class TestEdgeCases:
    def test_weird_rows(self, spark):
        rows = [
            ("u1", None, None, None, "en"),
            ("u2", None, None, "", "en"),
            ("u3", None, None, "   \t\n  ", None),
            ("u4", None, None, "héllo wörld ünïcode ß 文字 🙂", "de"),
            ("u5", None, None, "the " * 50000, "en"),
            ("u6", None, None,
             "mail me: x@y.co or (11) 91234-5678 at 10.0.0.1 badword2", "en"),
            # \x0B between area code and number: Java \s matches it, RE2 \s
            # does not — PHONE_RE must use the explicit class (ADVICE r1)
            ("u7", None, None, "ring (12)\x0b1234-5678 ok", "en"),
        ]
        df = spark.createDataFrame(rows, PAGES_SCHEMA)
        out = {r.url: r for r in QF.decisions(df).collect()}
        assert not out["u1"].keep and out["u1"].scrubbed_text == ""
        assert "min_words" in out["u2"].drop_reason
        assert out["u3"].scrubbed_text == "   \t\n  "  # byte fidelity, no trim
        assert out["u4"].scrubbed_text == "héllo wörld ünïcode ß 文字 🙂"
        assert out["u5"].drop_reason == "repetition"
        assert out["u6"].scrubbed_text == (
            "mail me: <EMAIL> or <PHONE> at <IP> <BLOCKED>"
        )
        assert "toxicity_blocklist" in out["u6"].drop_reason
        assert out["u7"].scrubbed_text == "ring <PHONE> ok"

    def test_html_never_read(self, spark, pages):
        """Column pruning: the filter plan must not read the html column
        (biggest I/O win at 100 TB — SURVEY.md §4.1)."""
        plan = QF.decisions(pages)._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan


    def test_input_token_columns_replaced_in_place(self, spark, pages):
        """A frame that already carries `_toks`/`_lines`/`_paras` gets the
        same decisions as the frame without them (the tokenize step
        replaces such a column in place instead of adding an ambiguous
        second one)."""
        from pyspark.sql import functions as F

        carrying = pages.withColumns(
            {c: F.lit("stale") for c in ("_toks", "_lines", "_paras")}
        )
        want = QF.decisions(pages).orderBy("url").toPandas()
        for got in (
            QF.decisions(carrying),
            QF.annotate(carrying).select(*QF.DECISION_COLS),
        ):
            got = got.orderBy("url").toPandas()
            for col in want.columns:
                assert (got[col].values == want[col].values).all(), col

    def test_plan_memo_bounded(self, spark):
        """The memoized rule-plan select lists stay within a fixed bound
        however many distinct input schemas a long-lived driver builds
        plans for."""
        from pyspark.sql import functions as F

        base = spark.createDataFrame(
            [("u", None, None, "some text here", "en")], PAGES_SCHEMA
        )
        bound = QF._PLAN_CACHE_SIZE
        for i in range(bound + 1):
            QF.annotate(base.withColumn(f"extra_{i}", F.lit(i)))
        info = QF._rule_plan.cache_info()
        assert info.maxsize == bound
        assert info.currsize <= bound
        assert QF._rule_levels.cache_info().maxsize == bound


PLANS = Path(__file__).resolve().parent.parent / "plans"

#: a hand-built trained-langid weights dict: plan shape only, never scored
_LANGID_MODEL = {
    "dim": 8,
    "orders": [1, 2],
    "labels": ["de", "en"],
    "intercepts": [0.0, 1.0],
    "weights": [[0.0] * 8, [0.0] * 8],
}


def _executed_plan(df) -> str:
    """The executed plan with expression ids, lambda-variable suffixes
    and the input path normalized away."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"\b([a-z])_\d+\b", r"\1_N", plan)
    return re.sub(r"\[file:[^\]]*\]", "[<input>]", plan)


class TestRulePlanPin:
    """One builder for every path: a UDF override is a feature-level
    substitution, so its output is one materialized attribute and the
    plan holds exactly one Python node however many rules read it."""

    @pytest.fixture(scope="class")
    def smoke(self, spark):
        return P.read_pages(spark, SF_SMOKE)

    @pytest.mark.parametrize(
        "override", ["arrow", "lm", "langid_model", "both_models"]
    )
    def test_one_arrow_eval_python(self, spark, smoke, override):
        from mysql_data_quality_spark.rules import arpa
        from tests.test_arpa import TINY_ARPA

        lm = arpa.parse_arpa(TINY_ARPA)
        kw = {
            "arrow": {"use_arrow_udfs": True},
            "lm": {"lm": lm},
            "langid_model": {"langid_model": _LANGID_MODEL},
            "both_models": {"lm": lm, "langid_model": _LANGID_MODEL},
        }[override]
        for df in (QF.annotate(smoke, **kw), QF.decisions(smoke, **kw)):
            assert _executed_plan(df).count("ArrowEvalPython [") == 1

    def test_default_annotate_plan_unchanged(self, spark, smoke):
        """The default-path executed plan equals the one captured before
        the builders were merged (plans/rule_plan_before.txt)."""
        # bytes: the plan holds literal \r (regex classes) that text-mode
        # reading would turn into newlines
        want = (PLANS / "rule_plan_before.txt").read_bytes().decode()
        want = want.rstrip("\n")
        assert _executed_plan(QF.annotate(smoke)).rstrip("\n") == want


class TestMetricsAndReports:
    def test_metrics_rows(self, spark, pages):
        ann = QF.annotate(pages)
        res = QF.metrics(ann)
        by_name = {r.rule_name: r for r in res}
        assert by_name["toxicity_blocklist"].affected_rows > 0
        assert by_name["keep_rate"].total_rows == pages.count()
        total = by_name["keep_rate"].total_rows
        assert all(r.total_rows == total for r in res)
        # pass_rate property matches reference arithmetic
        r = by_name["symbol_ratio"]
        assert r.pass_rate == (r.total_rows - r.affected_rows) / r.total_rows * 100

    def test_observed_metrics_equal_agg_metrics(self, spark, pages, tmp_path):
        """observe()-based metrics (free side effect of the write pass —
        the 100 TB path) must equal the standalone aggregation pass."""
        ann = QF.annotate(pages)
        direct = QF.metrics(ann)
        observed_df, obs = QF.observe_metrics(ann)
        # ONE action produces both the written decisions and the metrics
        observed_df.select(*QF.DECISION_COLS).write.mode("overwrite").parquet(
            str(tmp_path / "dec")
        )
        from_obs = QF.metrics_from_observation(obs.get)
        assert len(direct) == len(from_obs)
        for a, b in zip(direct, from_obs):
            assert (a.rule_name, a.affected_rows, a.total_rows, a.passed) == (
                b.rule_name, b.affected_rows, b.total_rows, b.passed
            )

    def test_reports_written(self, spark, pages, tmp_path):
        from mysql_data_quality_spark.reports import (
            analyze_results,
            quality_score_band,
            top_issues,
            write_json_report,
            write_text_report,
        )
        import json

        res = QF.metrics(QF.annotate(pages))
        summary = analyze_results(res)
        assert summary["total_checks"] == len(res)
        assert 0 <= summary["success_rate"] <= 100
        assert set(summary["severity_breakdown"]) <= {
            "INFO", "WARNING", "ERROR", "CRITICAL"}
        issues = top_issues(res)
        assert issues == sorted(
            issues, key=lambda r: ({"CRITICAL": 0, "ERROR": 1, "WARNING": 2,
                                    "INFO": 3}[r.severity.value],
                                   -r.affected_rows))
        jp = write_json_report(res, "pages", tmp_path)
        payload = json.loads(jp.read_text())
        assert payload["summary"]["total_checks"] == len(res)
        tp = write_text_report(res, "pages", tmp_path)
        assert "DATA QUALITY SUMMARY" in tp.read_text()
        assert quality_score_band(96) == "EXCELLENT"
        assert quality_score_band(86) == "GOOD"
        assert quality_score_band(71) == "FAIR"
        assert quality_score_band(51) == "POOR"
        assert quality_score_band(49) == "CRITICAL"


class TestC4AndRepetition:
    """Round-4 C4 line filter + Gopher paragraph/n-gram repetition."""
    # NB: module-level T is pyspark.sql.types here; text helpers are
    # imported per-method as TX, and F locally.

    def test_c4_line_filter_vectors(self, spark):
        from pyspark.sql import functions as F

        from mysql_data_quality_spark.functions import c4

        rows = [
            # kept: terminal punct + >=3 words, no 'javascript'
            (1, "This line is fine.\nshort.\nNo terminal punct here\n"
                "Please enable JavaScript now.\nAnother good line!"),
            (2, "only fragments\nno punct"),
            (3, ""),
            (4, None),
            # r4 ADVICE: a bare apostrophe is NOT a C4 end mark — the
            # quoted line (end quotation mark) stays, the ' line drops
            (5, 'He said so loudly "indeed."\nwhat the sign says isn\''),
        ]
        df = spark.createDataFrame(rows, "id: bigint, text: string")
        got = {
            r["id"]: (r["clean"], r["frac"])
            for r in df.select(
                "id",
                c4.c4_clean_text_col(F.col("text")).alias("clean"),
                c4.c4_kept_line_fraction_col(F.col("text")).alias("frac"),
            ).collect()
        }
        assert got[1] == (
            "This line is fine.\nAnother good line!", 2.0 / 5.0
        )
        assert got[2] == ("", 0.0)
        assert got[3] == ("", 0.0)   # '' not NULL — stable downstream
        assert got[4] == ("", 0.0)
        assert got[5] == ('He said so loudly "indeed."', 1.0 / 2.0)

    def test_c4_and_repetition_sql_parity(self, spark, duck):
        """Hand-adversarial vectors must agree bit-exactly across engines
        (quotes, tabs, unicode, repeated blocks)."""
        import pandas as pd

        from pyspark.sql import functions as F

        from mysql_data_quality_spark.functions import c4
        from mysql_data_quality_spark.functions import text as TX

        rows = [
            (1, 'He said "stop".\n\nHe said "stop".\n\ncode { x } here'),
            (2, "tab\tsep words.\nlorem IPSUM dolor.\nw w w w w w"),
            (3, "über naïve line.\n\nüber naïve line.\n\nokay three words?"),
            (4, "a b a b a b a b"),
        ]
        df = spark.createDataFrame(rows, "id: bigint, text: string")
        duck.register("c4_t", pd.DataFrame(rows, columns=["id", "text"]))
        toks = TX.tokens_sql("text")
        sdf = df.select(
            "id",
            c4.c4_clean_text_col(F.col("text")).alias("clean"),
            c4.c4_kept_line_fraction_col(F.col("text")).alias("kept"),
            c4.lorem_ipsum_col(F.col("text")).alias("lorem"),
            c4.curly_brace_col(F.col("text")).alias("curly"),
            TX.dup_paragraph_fraction_col(F.col("text")).alias("dp"),
            TX.dup_ngram_fraction_col(TX.tokens_col(F.col("text")), 2).alias("d2"),
        ).orderBy("id").collect()
        odf = duck.sql(f"""
            select id, {c4.c4_clean_text_sql('text')} as clean,
                   {c4.c4_kept_line_fraction_sql('text')} as kept,
                   {c4.lorem_ipsum_sql('text')} as lorem,
                   {c4.curly_brace_sql('text')} as curly,
                   {TX.dup_paragraph_fraction_sql('text')} as dp,
                   {TX.dup_ngram_fraction_sql(toks, 2)} as d2
            from c4_t order by id
        """).fetchall()
        for s, o in zip(sdf, odf):
            assert (s["clean"], s["kept"], s["lorem"], s["curly"],
                    s["dp"], s["d2"]) == tuple(o[1:]), s["id"]

    def test_c4_rules_enabled_via_env(self, spark, monkeypatch):
        """DQS_RULE_C4_*_ENABLED flips decisions; shipped defaults leave
        golden labels untouched (rules disabled)."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark.core.config import rules_from_env
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        rows = [
            ("u1", "lorem ipsum dolor sit amet and much more text here.",
             "en"),
            ("u2", "This page is perfectly ordinary readable text with "
                   "the usual words that pass every enabled rule easily.",
             "en"),
        ]
        pages = spark.createDataFrame(
            rows, "url: string, text: string, lang: string"
        ).withColumn("warc_ts", F.current_timestamp()).withColumn(
            "html", F.lit(None).cast("binary")
        )
        base = {r["url"]: r["keep"] for r in QF.decisions(pages).collect()}
        monkeypatch.setenv("DQS_RULE_C4_LOREM_IPSUM_ENABLED", "true")
        rules = rules_from_env()
        got = {
            r["url"]: (r["keep"], r["drop_reason"])
            for r in QF.decisions(pages, rules=rules).collect()
        }
        assert got["u1"][0] is False and "c4_lorem_ipsum" in got["u1"][1]
        assert got["u2"][0] == base["u2"]  # untouched doc unchanged

    def test_c4_crlf_and_leading_tab(self, spark, duck):
        """r4 review: CRLF pages must not lose every line to a trailing
        \\r, and a leading tab must not fabricate a third word."""
        import pandas as pd

        from pyspark.sql import functions as F

        from mysql_data_quality_spark.functions import c4
        from mysql_data_quality_spark.functions import text as TX

        rows = [
            (1, "One good line here.\r\nAnother good line.\r\n"),
            (2, "para one text.\r\n\r\npara one text.\r\n\r\npara two."),
            (3, "\tHi there."),          # 2 words: must NOT pass >=3
            (4, "\tHi right there."),    # 3 words: passes
        ]
        df = spark.createDataFrame(rows, "id: bigint, text: string")
        got = {
            r["id"]: (r["clean"], r["kept"], r["dp"])
            for r in df.select(
                "id",
                c4.c4_clean_text_col(F.col("text")).alias("clean"),
                c4.c4_kept_line_fraction_col(F.col("text")).alias("kept"),
                TX.dup_paragraph_fraction_col(F.col("text")).alias("dp"),
            ).collect()
        }
        assert got[1] == (
            "One good line here.\nAnother good line.", 1.0, 0.0
        )
        assert got[2][2] == pytest.approx(1.0 / 3.0)  # CRLF paras split
        assert got[3][:2] == ("", 0.0)
        # content keeps its tab (trim strips spaces only); the WORD COUNT
        # is what must ignore the empty leading token
        assert got[4][:2] == ("\tHi right there.", 1.0)
        # both engines still agree bit-exactly on the CRLF vectors
        duck.register("crlf_t", pd.DataFrame(rows, columns=["id", "text"]))
        oracle = duck.sql(f"""
            select id, {c4.c4_clean_text_sql('text')},
                   {c4.c4_kept_line_fraction_sql('text')},
                   {TX.dup_paragraph_fraction_sql('text')}
            from crlf_t order by id""").fetchall()
        for row in oracle:
            assert got[row[0]] == tuple(row[1:]), row[0]

    def test_c4_bool_rule_value_override_env(self, monkeypatch):
        """r4 review: bool-valued rules must take DQS_RULE_<NAME>=false
        style value overrides without float() crashes."""
        from mysql_data_quality_spark.core.config import rules_from_env

        monkeypatch.setenv("DQS_RULE_C4_LOREM_IPSUM", "false")
        rules = {r.name: r for r in rules_from_env()}
        assert rules["c4_lorem_ipsum"].value is False
        monkeypatch.setenv("DQS_RULE_C4_LOREM_IPSUM", "true")
        rules = {r.name: r for r in rules_from_env()}
        assert rules["c4_lorem_ipsum"].value is True
