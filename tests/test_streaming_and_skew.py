"""Streaming==batch parity and skew-salting invariance (FIXTURES.md F6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import skew
from mysql_data_quality_spark.pipeline import pages as P
from mysql_data_quality_spark.pipeline import quality_filter as QF
from mysql_data_quality_spark.streaming import incremental
from tests.conftest import SF_SMOKE


class TestStreaming:
    def test_stream_equals_batch(self, spark, tmp_path):
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        # drop the corpus as several files to force multiple micro-batches
        pages.repartition(6).write.parquet(in_dir)

        q = incremental.start_filter_stream(spark, in_dir, out_dir, ckpt)
        q.awaitTermination(120)

        streamed = spark.read.parquet(out_dir).orderBy("url").toPandas()
        batch = QF.decisions(pages).orderBy("url").toPandas()
        assert len(streamed) == len(batch)
        for c in batch.columns:
            assert (streamed[c].values == batch[c].values).all(), c

    def test_stream_equals_batch_with_trained_langid(self, spark, tmp_path):
        """The trained-model hooks thread through foreachBatch: a stream
        scored with --langid-model produces byte-identical decisions to
        the batch filter with the same weights."""
        from mysql_data_quality_spark.rules.langid import LANG_MARKERS
        from mysql_data_quality_spark.rules.langid_trained import (
            train_langid,
        )

        rows, i = [], 0
        for lang, words in LANG_MARKERS.items():
            for k in range(25):
                t = " ".join(words[(k + j) % len(words)] for j in range(6))
                rows.append(
                    (f"https://{lang}.ex.com/{i}", t, lang)
                )
                i += 1
        corpus = spark.createDataFrame(
            rows, "url string, text string, lang string"
        )
        model = train_langid(corpus, dim=256, max_iter=40)
        pages = corpus.selectExpr(
            "url", "timestamp('2024-01-01') as warc_ts",
            "cast(null as binary) as html", "text", "lang",
        )
        in_dir = str(tmp_path / "in_li")
        pages.repartition(4).write.parquet(in_dir)
        q = incremental.start_filter_stream(
            spark, in_dir, str(tmp_path / "out_li"),
            str(tmp_path / "ckpt_li"), langid_model=model,
        )
        q.awaitTermination(120)
        streamed = (
            spark.read.parquet(str(tmp_path / "out_li"))
            .orderBy("url").toPandas()
        )
        batch = (
            QF.decisions(pages, langid_model=model)
            .orderBy("url").toPandas()
        )
        assert len(streamed) == len(batch)
        for c in batch.columns:
            assert (streamed[c].values == batch[c].values).all(), c

    def test_windowed_metrics_with_watermark(self, spark, tmp_path):
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        pages.write.parquet(in_dir)
        q = incremental.start_windowed_metrics_stream(
            spark, in_dir, str(tmp_path / "ckpt"), query_name="wm_test"
        )
        q.awaitTermination(120)
        got = spark.sql("select * from wm_test").toPandas()
        # append mode emits only watermark-closed windows; batch totals
        # bound them from above
        batch = QF.annotate(pages)
        from pyspark.sql import functions as F

        totals = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("k"),
        ).collect()[0]
        kept = got["_total"] - got["_dropped"]
        assert 0 < got["_total"].sum() <= totals["n"]
        assert kept.sum() <= totals["k"]
        assert (kept <= got["_total"]).all()

    def test_windowed_metrics_columns_match_batch_registry(
        self, spark, tmp_path
    ):
        """The windowed stream aggregate must be registry-driven: one
        column per rule in heuristics.all_rule_severities(), exactly the
        batch metrics aggregate's column set (r2 verdict: the stream path
        hardcoded toxicity_blocklist only) — and per-window values must
        EQUAL a batch aggregation of the same input grouped by the same
        window."""
        from pyspark.sql import functions as F

        from mysql_data_quality_spark.pipeline import quality_filter as QFm
        from mysql_data_quality_spark.rules import heuristics

        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        pages.write.parquet(in_dir)
        q = incremental.start_windowed_metrics_stream(
            spark, in_dir, str(tmp_path / "ckpt"), query_name="wm_cols"
        )
        q.awaitTermination(120)
        got = spark.sql("select * from wm_cols").toPandas()
        severities = heuristics.all_rule_severities()
        batch_cols = [
            f.name
            for f in QF.annotate(pages)
            .agg(*QFm._metric_aggs(severities))
            .schema.fields
        ]
        assert list(got.columns) == ["window_start"] + batch_cols
        assert set(severities) <= set(got.columns)  # every rule present
        # per-window equality vs the batch path on the same input
        want = (
            QF.annotate(pages)
            .groupBy(F.window("warc_ts", "1 hour").alias("w"))
            .agg(*QFm._metric_aggs(severities))
            .select(F.col("w.start").alias("window_start"), *batch_cols)
            .toPandas()
        )
        merged = got.merge(
            want, on="window_start", suffixes=("_s", "_b"), how="left"
        )
        assert len(merged) == len(got) > 0
        for c in batch_cols:
            assert (merged[f"{c}_s"] == merged[f"{c}_b"]).all(), c

    def test_dedup_filter_stream_composition(self, spark, tmp_path):
        """Streaming analogue of `cli filter --dedup`: first-seen-url
        dedup composed with the rule plan in ONE stream.  Overlapping
        file drops (every url re-crawled in drop 2) must yield exactly
        one decision per url, byte-identical to the batch decisions for
        those pages."""
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        half = pages.where("length(url) % 2 = 0")
        half.write.mode("append").parquet(in_dir)
        q = incremental.start_filter_stream(
            spark, in_dir, out_dir, ckpt, dedup=True
        )
        q.awaitTermination(120)
        # drop 2: full corpus (all of drop 1 are re-crawls)
        pages.write.mode("append").parquet(in_dir)
        q2 = incremental.start_filter_stream(
            spark, in_dir, out_dir, ckpt, dedup=True
        )
        q2.awaitTermination(120)
        got = spark.read.parquet(out_dir)
        assert got.count() == pages.count()  # one decision per url
        assert got.select("url").distinct().count() == pages.count()
        streamed = got.drop("batch_id").orderBy("url").toPandas()
        batch = QF.decisions(pages).orderBy("url").toPandas()
        for c in batch.columns:
            assert (streamed[c].values == batch[c].values).all(), c

    def test_dedup_is_jvm_streaming_deduplicate(self, spark, tmp_path):
        """dedup=True plans Spark's own StreamingDeduplicate operator:
        no Python stateful stage (and no Python worker) per micro-batch,
        and `html` never reaches the dedup shuffle."""
        pages = P.read_pages(spark, SF_SMOKE).limit(10)
        in_dir = str(tmp_path / "in")
        pages.coalesce(1).write.parquet(in_dir)
        q = incremental.start_filter_stream(
            spark, in_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            dedup=True,
        )
        q.awaitTermination(120)
        plan = q._jsq.streamingQuery().lastExecution().executedPlan()
        plan = plan.toString()
        assert "StreamingDeduplicate" in plan
        assert "FlatMapGroupsInPandasWithState" not in plan
        assert "Python" not in plan
        assert "html" not in plan

    def test_dedup_in_batch_captures_one_decision(self, spark, tmp_path):
        """One drop holds two different captures of one url, a later drop
        re-delivers it: exactly one decision for that url, equal to the
        batch decision of one of the two captures; a restart emits
        nothing new."""
        pages = P.read_pages(spark, SF_SMOKE).orderBy("url").limit(12)
        url = pages.first()["url"]
        first = pages.where(F.col("url") == url).withColumn(
            "text", F.lit("first capture of the page about streams")
        )
        second = first.withColumn(
            "text", F.lit("second capture of the page about streams")
        ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        others = pages.where(F.col("url") != url)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        drop1 = others.unionByName(first).unionByName(second)
        drop1.coalesce(1).write.parquet(in_dir)

        def run():
            q = incremental.start_filter_stream(
                spark, in_dir, out_dir, ckpt, dedup=True
            )
            q.awaitTermination(120)

        run()
        first.coalesce(1).write.mode("append").parquet(in_dir)  # re-crawl
        run()
        got = spark.read.parquet(out_dir)
        assert got.count() == pages.count()
        assert got.select("url").distinct().count() == pages.count()
        row = got.where(F.col("url") == url).drop("batch_id").collect()
        assert len(row) == 1
        captures = [
            r.asDict()
            for r in QF.decisions(first.unionByName(second)).collect()
        ]
        assert row[0].asDict() in captures
        streamed = (
            got.where(F.col("url") != url).drop("batch_id")
            .orderBy("url").toPandas()
        )
        batch = QF.decisions(others).orderBy("url").toPandas()
        for c in batch.columns:
            assert (streamed[c].values == batch[c].values).all(), c
        n = got.count()
        run()  # restart, nothing new: no new rows
        assert spark.read.parquet(out_dir).count() == n

    def test_stream_restart_no_reprocess(self, spark, tmp_path):
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        pages.write.parquet(in_dir)
        q = incremental.start_filter_stream(spark, in_dir, out_dir, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out_dir).count()
        # restart with the same checkpoint: no new files -> no new rows
        q2 = incremental.start_filter_stream(spark, in_dir, out_dir, ckpt)
        q2.awaitTermination(120)
        assert spark.read.parquet(out_dir).count() == n1


class TestSkew:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # one domain owns ~100x the median (F6 skew fixture)
        hot = spark.range(1000).select(
            F.concat(F.lit("https://hot.example.com/p/"), F.col("id")).alias("url")
        )
        cold = spark.range(10).select(
            F.concat(
                F.lit("https://cold"), F.col("id"), F.lit(".example.com/p/0")
            ).alias("url")
        )
        return hot.union(cold)

    def test_salt_is_deterministic_and_bounded(self, spark, skewed):
        a = skew.with_salt(skewed, "url", 8).orderBy("url").toPandas()
        b = skew.with_salt(skewed.repartition(5), "url", 8).orderBy("url").toPandas()
        assert (a["_salt"].values == b["_salt"].values).all()
        assert a["_salt"].between(0, 7).all()

    def test_salted_count_equals_direct(self, spark, skewed):
        df = skewed.withColumn("domain", skew.domain_col(F.col("url")))
        direct = {
            r["domain"]: r["n"]
            for r in df.groupBy("domain").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        salted = {
            r["domain"]: r["n_rows"]
            for r in skew.salted_group_count(df, "domain", "url", 8).collect()
        }
        assert direct == salted
        assert direct["hot.example.com"] == 1000

    def test_salt_splits_hot_key(self, spark, skewed):
        df = skew.with_salt(
            skewed.withColumn("domain", skew.domain_col(F.col("url"))), "url", 8
        )
        per_salt = (
            df.where(F.col("domain") == "hot.example.com")
            .groupBy("_salt")
            .count()
            .toPandas()
        )
        assert len(per_salt) == 8  # hot key spread over all salts
        assert per_salt["count"].max() < 1000 * 0.25  # no salt owns the key


class TestDurableMetricsSink:
    def test_windowed_metrics_to_parquet(self, spark, tmp_path):
        pages = P.read_pages(spark, SF_SMOKE)
        in_dir = str(tmp_path / "in")
        pages.write.parquet(in_dir)
        sink = str(tmp_path / "metrics")
        q = incremental.start_windowed_metrics_stream(
            spark, in_dir, str(tmp_path / "ckpt"), sink_path=sink
        )
        q.awaitTermination(120)
        got = spark.read.parquet(sink).toPandas()
        from mysql_data_quality_spark.rules import heuristics

        assert {"window_start", "_total", "_dropped"} | set(
            heuristics.all_rule_severities()
        ) <= set(got.columns)
        assert got["_total"].sum() > 0
        assert (got["_dropped"] <= got["_total"]).all()


class TestBatchWriterIdempotence:
    def test_replayed_batch_no_duplicates(self, spark, tmp_path):
        """foreachBatch is at-least-once: writing the SAME batch twice (a
        simulated replay after a crash-before-checkpoint-commit) must leave
        exactly one copy of its rows."""
        pages = P.read_pages(spark, SF_SMOKE)
        out = str(tmp_path / "dec")
        b0 = pages.limit(100)
        incremental.write_decisions_batch(b0, 0, out)
        once = spark.read.parquet(out).orderBy("url").toPandas()
        incremental.write_decisions_batch(b0, 0, out)  # replay of batch 0
        twice = spark.read.parquet(out).orderBy("url").toPandas()
        assert len(twice) == len(once) == 100
        for c in once.columns:
            assert (once[c].values == twice[c].values).all(), c
        # a DIFFERENT batch id appends its own partition untouched
        incremental.write_decisions_batch(pages.limit(40), 1, out)
        assert spark.read.parquet(out).count() == 140


class TestAqeSkewJoin:
    def test_skew_join_split_engages(self, spark):
        """The session factory enables AQE skew-join splitting; prove it
        actually fires: a join with one pathological hot key, thresholds
        scaled to test size, must show a skew-split shuffle read in the
        EXECUTED adaptive plan (the pre-execution plan never shows it)."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            hot = spark.range(200000).select(
                F.lit(1).alias("k"), F.col("id").alias("v")
            )
            cold = spark.range(2000).select(
                (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("v")
            )
            right = spark.range(60).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("w")
            )
            j = hot.union(cold).join(right, on="k")
            assert len(j.collect()) == 202000  # correct despite the split
            ep = j._jdf.queryExecution().executedPlan().treeString()
            assert "skew=true" in ep, "AQE skew split did not engage"
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
