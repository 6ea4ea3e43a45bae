"""Bound ASSERTIONS for the skew-safe paths on adversarial corpora (r5
verdict ask #2: prove SURVEY §7.4 hard-part #4 with data, not prose).
bench.py's *_skew lines record the cost of these same shapes; here we
pin the bounds that make them safe: no aggregation buffer / task group
on the salted paths grows with the hot key's total mass.

All constructions are deterministic (hash salts, fixed texts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import dedup, skew

N_MEGA = 20_000  # one byte-identical text repeated this many times


@pytest.fixture(scope="module")
def mega_group(spark):
    """Mega exact-dup group + a benign tail: the 'empty page duplicated
    10^9 times' pathology at test scale."""
    dup = spark.range(N_MEGA).select(
        F.concat(F.lit("https://copy.example/"), F.col("id")).alias("url"),
        F.lit("identical boilerplate page body text").alias("text"),
    )
    tail = spark.range(500).select(
        F.concat(F.lit("https://ok.example/"), F.col("id")).alias("url"),
        F.concat(F.lit("unique page "), F.col("id")).alias("text"),
    )
    return dup.union(tail)


class TestSaltedExactDedup:
    def test_mega_group_output_correct_and_capped(self, spark, mega_group):
        out = dedup.exact_duplicate_groups(
            mega_group, "url", "text", max_ids_per_group=100
        ).collect()
        assert len(out) == 1  # the tail texts are unique
        row = out[0]
        assert row["dup_count"] == N_MEGA  # count stays exact
        assert len(row["doc_ids"]) == 100  # id sample capped
        # exactly the 100 smallest ids (two-phase bounded top-k contract)
        want = sorted(
            f"https://copy.example/{i}" for i in range(N_MEGA)
        )[:100]
        assert row["doc_ids"] == want

    def test_phase1_buffer_bound(self, spark, mega_group):
        """The quantity that lands in ONE phase-1 aggregation buffer is
        the (text_md5, salt) group — recomputed here exactly as the
        operator salts it.  For the mega group it must be ~N/CAP_SALTS,
        never O(N): the bound that keeps one task from pinning."""
        cap_salts = dedup.CAP_SALTS
        hashed = mega_group.select(
            F.col("url").alias("doc_id"),
            F.md5(dedup.normalized_text_col(F.col("text"))).alias("text_md5"),
        ).withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(cap_salts)).cast("int"),
        )
        mx = (
            hashed.groupBy("text_md5", "_salt")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert mx <= (N_MEGA / cap_salts) * 2  # 2x headroom on hash balance
        assert mx < N_MEGA * 0.05  # and far below the unsalted group


class TestSaltedGroupCount:
    def test_hot_domain_partial_bound_and_parity(self, spark):
        """salted_group_count on a 40%-hot-domain corpus: result equals
        the plain groupBy, and the hottest (key, salt) partial group —
        what one reducer buffer actually sees in phase 1 — is ~hot/n_salts."""
        n, n_salts = 50_000, 32
        hot_share = 0.4
        rows = spark.range(n).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            F.when(
                F.col("id") < int(n * hot_share), F.lit("mega.example")
            ).otherwise(
                F.concat(F.lit("d"), F.pmod(F.col("id"), F.lit(997)))
            ).alias("domain"),
        )
        got = {
            r["domain"]: r["n_rows"]
            for r in skew.salted_group_count(
                rows, "domain", "url", n_salts=n_salts
            ).collect()
        }
        want = {
            r["domain"]: r["count"]
            for r in rows.groupBy("domain").count().collect()
        }
        assert got == want
        hot_n = int(n * hot_share)
        salted = skew.with_salt(rows, "url", n_salts)
        mx = (
            salted.where(F.col("domain") == "mega.example")
            .groupBy("_salt").count()
            .agg(F.max("count")).collect()[0][0]
        )
        assert mx <= (hot_n / n_salts) * 1.5
