"""Sequence packing (cumsum + greedy paths): DuckDB exact parity for the
cumsum path, a pure-Python reference for the greedy path, budget/overflow
invariants and partition invariance."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import packing as PK
from tests.conftest import SF_CORRECT


def _docs_with_tokens(spark):
    """sf0.01 documents with a deterministic token count column and a
    cross-engine md5-derived bucket (xxhash64 has no DuckDB twin)."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    return docs.select(
        "doc_id",
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias(
            "n_tokens"
        ),
        F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                   16, 10).cast("bigint"),
            F.lit(8),
        ).cast("int").alias("pack_bucket"),
    )


class TestPacking:
    def test_cumsum_duckdb_parity(self, spark):
        inp = _docs_with_tokens(spark)
        sp = (
            PK.pack_assignments(
                inp, "doc_id", "n_tokens", target_tokens=512,
                n_buckets=8, bucket_col="pack_bucket",
            )
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("inp", inp.toPandas())
        dk = con.sql(
            PK.pack_assignments_sql("inp", "doc_id", "n_tokens", 512, 8)
            + " order by doc_id"
        ).df()
        assert len(sp) == len(dk)
        for c in ("doc_id", "pack_bucket", "pack_id"):
            assert (sp[c].values == dk[c].values).all(), c

    def test_cumsum_contiguity_and_fill(self, spark):
        rows = [(i, 100) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id: long, n_tokens: long")
        out = (
            PK.pack_assignments(df, "doc_id", "n_tokens", 250, n_buckets=1)
            .orderBy("doc_id")
            .collect()
        )
        # cumsum floor: docs 0,1,2 start at 0,100,200 -> pack 0;
        # docs 3,4 start 300,400 -> pack 1 ... floor((cum-t)/250)
        packs = [r["pack_id"] for r in out]
        assert packs == sorted(packs)  # contiguous in id order
        stats = {
            r["pack_id"]: r["pack_tokens"]
            for r in PK.pack_stats(
                PK.pack_assignments(
                    df, "doc_id", "n_tokens", 250, n_buckets=1
                ),
                "n_tokens",
            ).collect()
        }
        # every pack except possibly the last holds >= target - max_doc
        vals = [stats[k] for k in sorted(stats)]
        assert all(v >= 250 - 100 for v in vals[:-1])

    def test_greedy_matches_python_reference(self, spark):
        inp = _docs_with_tokens(spark).drop("pack_bucket")
        out = (
            PK.pack_assignments_greedy(
                inp, "doc_id", "n_tokens", target_tokens=512, n_buckets=8
            )
            .orderBy("doc_id")
            .toPandas()
        )
        # reference: same bucket column, first-fit in id order
        ref_rows = out[["doc_id", "n_tokens", "pack_bucket"]].sort_values(
            "doc_id"
        )
        expect = {}
        for b in sorted(ref_rows.pack_bucket.unique()):
            sub = ref_rows[ref_rows.pack_bucket == b]
            cur, used = 0, 0
            for _, r in sub.iterrows():
                t = max(int(r.n_tokens), 1)
                if used > 0 and used + t > 512:
                    cur += 1
                    used = 0
                expect[int(r.doc_id)] = int(b) * PK._PACK_STRIDE + cur
                used += t
        got = dict(zip(out.doc_id.astype(int), out.pack_id.astype(int)))
        assert got == expect

    def test_greedy_budget_invariant(self, spark):
        inp = _docs_with_tokens(spark).drop("pack_bucket")
        packed = PK.pack_assignments_greedy(
            inp, "doc_id", "n_tokens", target_tokens=512, n_buckets=8
        )
        stats = PK.pack_stats(packed, "n_tokens").toPandas()
        singles = packed.groupBy("pack_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tokens").alias("mx"),
        ).toPandas()
        merged = stats.merge(singles, on="pack_id")
        # a pack over budget must be a singleton long doc
        over = merged[merged.pack_tokens > 512]
        assert (over.n_docs == 1).all()

    def test_partition_invariance(self, spark):
        inp = _docs_with_tokens(spark).drop("pack_bucket")
        a = (
            PK.pack_assignments(inp, "doc_id", "n_tokens", 512, 8)
            .select("doc_id", "pack_id").orderBy("doc_id").toPandas()
        )
        b = (
            PK.pack_assignments(
                inp.repartition(13), "doc_id", "n_tokens", 512, 8
            )
            .select("doc_id", "pack_id").orderBy("doc_id").toPandas()
        )
        assert (a.pack_id.values == b.pack_id.values).all()

    def test_guards(self, spark):
        df = spark.createDataFrame([(1, 5)], "doc_id: long, n_tokens: long")
        with pytest.raises(ValueError):
            PK.pack_assignments(df, "doc_id", "n_tokens", 0)
        with pytest.raises(ValueError):
            PK.pack_assignments_greedy(df, "doc_id", "n_tokens", 10, 0)
