"""Physical-plan quality gates (SURVEY.md §4): the plans we ship must be
the plans we designed — broadcast anti-joins for FK checks, broadcast hash
joins for dim tables, column pruning at the scan, whole-stage codegen in
the hot path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests.conftest import SF_CORRECT, run_executions


def _plan(df) -> str:
    from mysql_data_quality_spark.plans.compiler import formatted_plan

    return formatted_plan(df)


class TestPlanQuality:
    def test_fk_check_is_broadcast_anti_join(self, spark):
        orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
        customer = spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
        orphans = orders.join(
            F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"))),
            on="o_custkey",
            how="left_anti",
        )
        plan = _plan(orphans)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_q3_broadcasts_customer(self, spark):
        plan = _plan(entry._q3_revenue_topk(spark, SF_CORRECT))
        assert "BroadcastHashJoin" in plan
        # top-k compiles to TakeOrderedAndProject, not a full sort
        assert "TakeOrderedAndProject" in plan

    def test_q5_broadcasts_all_dims(self, spark):
        plan = _plan(entry._q5ish_nation_revenue(spark, SF_CORRECT))
        assert plan.count("BroadcastHashJoin") >= 3

    def test_q1_filter_pushed_to_scan(self, spark):
        plan = _plan(entry._q1_pricing_summary(spark, SF_CORRECT))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_pipeline_is_single_stage_no_exchange(self, spark):
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        plan = _plan(QF.decisions(P.read_pages(spark, SF_CORRECT)))
        assert "Exchange" not in plan  # pure map: zero shuffles
        # one scan feeds all rules (formatted explain names each scan once
        # in the tree and once in the detail section)
        assert plan.count("Location: InMemoryFileIndex") == 1

    def test_winnowing_is_pure_map_no_exchange(self, spark):
        """r7 optimization contract: winnowing fingerprints are a purely
        per-document computation and the plan must be a pure map — no
        Exchange, no Window, no Generate (the r4-r6 exploded-window form
        paid a text-carrying groupBy exchange + a gram-row shuffle+sort
        for the same bits)."""
        from mysql_data_quality_spark.operators import textstats

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        plan = _plan(
            textstats.winnowing_fingerprints(docs, "doc_id", "text")
        )
        assert "Exchange" not in plan
        assert "Window" not in plan
        # the normalization and gram stages must stay materialized as
        # their own projections: the tokenize/normalize regex appears
        # exactly once in the plan (per-gram re-inlining is the
        # O(n²·regex) HOF trap this shape exists to avoid)
        assert plan.count("regexp_replace") == 1

    def test_shingle_tokenizer_materialized_once(self, spark):
        """r7 optimization contract: the shingle builder slices a
        MATERIALIZED token-array column; the split+filter tokenizer
        pipeline must not be inlined into the per-shingle lambda (the
        O(tokens²) re-tokenization the r6 plan carried).  The
        projection computing `_sh_toks` must survive into the physical
        plan, and the non-empty-shingles guard pushed down to the scan's
        filters must not carry the per-shingle slice over the inlined
        tokenizer."""
        from mysql_data_quality_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        plan = _plan(
            dedup.minhash_signatures(docs, "doc_id", "text", 3, 16)
        )
        assert "_sh_toks" in plan
        assert "slice(filter(split(" not in plan

    def test_full_profile_pipeline_no_exchange(self, spark):
        """--profile full keeps the flagship's plan shape: all 16 rules +
        their Gopher/C4 features are still ONE projection over ONE scan —
        zero shuffles (the 2.1x cost vs the default profile is live
        expression work, not plan regression)."""
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from mysql_data_quality_spark.rules.heuristics import FULL_RULES

        plan = _plan(
            QF.decisions(P.read_pages(spark, SF_CORRECT), rules=FULL_RULES)
        )
        assert "Exchange" not in plan
        assert plan.count("Location: InMemoryFileIndex") == 1

    def test_lsh_near_pairs_no_cartesian(self, spark):
        """The bucketed near-pair plan must be hash joins on short keys —
        never a cartesian/nested-loop product (that is the O(n²) oracle's
        job, not the scale path's)."""
        from mysql_data_quality_spark.operators import ann

        emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        plan = _plan(ann.lsh_near_pairs(emb, dim=64, threshold=0.4))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_minhash_band_join_carries_no_sig(self, spark):
        """The band self-join's shuffle must not carry the signature array:
        the Exchange feeding the join moves only (doc_id, band, bh)."""
        import re

        from mysql_data_quality_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        plan = _plan(
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", k=3, num_hashes=32, bands=8
            )
        )
        # every hashpartitioning on (band, bh) feeds a projection without sig
        for m in re.finditer(r"Exchange hashpartitioning\(band[^\n]*", plan):
            assert "sig" not in m.group(0)

    def test_lsh_topk_candidate_exchange_carries_no_vector(self, spark):
        """lsh_cosine_topk's candidate dedup must shuffle (query_id,
        vec_id) ONLY — vectors re-join afterwards (corpus by id, queries
        from a BroadcastExchange, which is exempt: queries are small by
        contract).  Guards the r2 regression where q_vec (dim floats per
        candidate row) rode every shuffle Exchange of the dedup."""
        import re

        from mysql_data_quality_spark.operators import ann

        emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        queries = emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = _plan(ann.lsh_cosine_topk(emb, queries, dim=64, k=5))
        blocks = re.split(r"\n\n", plan)
        shuffle_blocks = [
            b
            for b in blocks
            if re.match(r"\(\d+\) Exchange", b.strip())
        ]
        assert shuffle_blocks, "expected shuffle Exchange detail blocks"
        for b in shuffle_blocks:
            assert "array<" not in b, f"vector rides a shuffle:\n{b}"

    def test_dedup_corpus_text_never_shuffles(self, spark):
        """dedup_exact_corpus computes winners on the (id, md5) projection
        and broadcast-anti-joins losers out — the corpus text column must
        not appear in any shuffle Exchange, for either keep policy.  The
        winner exchange runs in the loser list's materialization job at
        call time, so the plans checked are that job's executed plan, read
        from the SQL status store, and the plan of the returned frame."""
        import re

        from mysql_data_quality_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        for keep in ("min_id", "longest"):
            out, execs = run_executions(
                spark,
                lambda: dedup.dedup_exact_corpus(
                    docs, "doc_id", "text", keep=keep
                ),
            )
            plan = "\n\n".join(
                [e.physicalPlanDescription() for e in execs] + [_plan(out)]
            )
            blocks = re.split(r"\n\n", plan)
            shuffles = [
                b for b in blocks if re.match(r"\(\d+\) Exchange", b.strip())
            ]
            assert shuffles, "expected shuffle Exchanges (winner agg)"
            for b in shuffles:
                assert not re.search(r"\btext#", b), (
                    f"corpus text rides a shuffle ({keep}):\n{b}"
                )

    def test_paragraph_dedup_text_never_shuffles(self, spark):
        """paragraph_dedup_corpus: winner election and drop lists run on
        (id, pos, hash) projections and the rebuild join broadcasts the
        drop lists — document text must not appear in any shuffle
        Exchange of the plan."""
        import re

        from mysql_data_quality_spark.operators import pardedup

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        plan = _plan(pardedup.paragraph_dedup_corpus(docs))
        assert "BroadcastHashJoin" in plan  # the rebuild join
        blocks = re.split(r"\n\n", plan)
        shuffles = [
            b for b in blocks if re.match(r"\(\d+\) Exchange", b.strip())
        ]
        assert shuffles, "expected shuffle Exchanges (winner election)"
        for b in shuffles:
            assert not re.search(r"\btext#", b), (
                f"document text rides a shuffle:\n{b}"
            )

    def test_near_dedup_corpus_keep_one_is_broadcast_anti(self, spark):
        """deduplicated_corpus (the --dedup-near keep-one step): the
        cluster losers broadcast and the corpus is anti-joined in place —
        the corpus must not shuffle for the keep-one join (clusters are
        near-dup OUTPUT, orders of magnitude smaller than the corpus)."""
        import re

        from mysql_data_quality_spark.operators import dedup

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=4
        )
        plan = _plan(dedup.deduplicated_corpus(docs, pairs, "doc_id"))
        assert re.search(r"BroadcastHashJoin LeftAnti", plan), plan[:2000]
        # the corpus text column never rides a shuffle Exchange
        blocks = re.split(r"\n\n", plan)
        for b in blocks:
            if re.match(r"\(\d+\) Exchange", b.strip()):
                assert not re.search(r"\btext#", b), b

    def test_q1_reads_only_needed_columns(self, spark):
        plan = _plan(entry._q1_pricing_summary(spark, SF_CORRECT))
        import re

        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m is not None
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert cols == {
            "l_quantity", "l_extendedprice", "l_discount",
            "l_returnflag", "l_linestatus", "l_shipdate",
        }


class TestCodegenCache:
    def test_warm_dedup_pass_compiles_nothing(self, spark):
        """A repeat of the same dedup + rule-plan pass must find every
        generated class in the codegen cache: one pass generates more
        classes than Spark's default cache holds (100), and an LRU
        smaller than the working set misses on every class of every
        pass.  AQE is off for the two runs: it re-plans joins from the
        order in which shuffle stages finish, which varies between runs,
        so with it the second run may meet a plan variant it never saw."""
        from mysql_data_quality_spark.operators import dedup as D
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF
        from tests.conftest import SF_SMOKE

        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

        def one_pass():
            pages = D.dedup_exact_corpus(
                P.read_pages(spark, SF_SMOKE), "url", "text"
            )
            pairs = D.minhash_lsh_pairs(pages, "url", "text")
            dec = QF.decisions(D.deduplicated_corpus(pages, pairs, "url"))
            dec.write.format("noop").mode("overwrite").save()
            pairs._persisted_sigs.unpersist()

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            one_pass()
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            one_pass()
            compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert compiled == 0
