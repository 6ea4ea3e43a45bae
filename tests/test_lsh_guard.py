"""Hot-band-bucket guard + star-edge mode of the minhash LSH pair
generator (r5 verdict ask #1), proven on a SKEWED corpus: one large
template family whose members all collide into the same band buckets —
the degenerate case that is guaranteed in Common-Crawl-like data and
used to emit O(n²) candidate pairs.

No reference counterpart (the reference, a single-process
pandas/SQLAlchemy tool, has no near-dup operators at all)."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import dedup

FAMILY = 400  # template-family size: all-pairs would be ~80k candidates
DISTINCT = 40


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """FAMILY near-identical template docs (identical but for a numeric
    tail token, so every minhash band collides) + DISTINCT unrelated
    docs.  Deterministic, synthesized in-session — no external data."""
    template = (
        "breaking news article boilerplate header navigation chrome "
        "subscribe banner cookie notice the story text is identical "
        "across every page of this template family item"
    )
    fam = [(i, f"{template} {i % 7}") for i in range(FAMILY)]
    # distinct docs: unique token streams, no shared 3-shingles
    other = [
        (FAMILY + j, " ".join(f"tok{j}w{t}" for t in range(30)))
        for j in range(DISTINCT)
    ]
    return spark.createDataFrame(fam + other, ["doc_id", "text"]).coalesce(4)


def _pair_count_unguarded_would_explode():
    # documentation constant: all-pairs within one bucket of FAMILY docs
    return FAMILY * (FAMILY - 1) // 2  # 79_800 at FAMILY=400


class TestHotBucketGuard:
    def test_unguarded_pairs_are_quadratic(self, spark, skewed_docs):
        """Baseline that motivates the guard: with the cap off, the
        template family alone emits ~n²/2 scored pairs."""
        pairs = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text",
            k=3, num_hashes=16, bands=4, threshold=0.5,
            max_bucket_size=None,
        )
        n = pairs.count()
        assert n >= _pair_count_unguarded_would_explode() * 0.9

    def test_guard_bounds_pairs_and_logs(self, spark, skewed_docs, caplog):
        """Cap ON: hot buckets dropped BEFORE the self-join, pair output
        bounded by the cap's quadratic (cap², not family²), and the drop
        is logged — no silent caps."""
        with caplog.at_level(logging.WARNING,
                             logger="mysql_data_quality_spark.operators.dedup"):
            pairs = dedup.minhash_lsh_pairs(
                skewed_docs, "doc_id", "text",
                k=3, num_hashes=16, bands=4, threshold=0.5,
                max_bucket_size=50,
            )
            n = pairs.count()
        # every family bucket exceeds the cap -> dropped entirely; the
        # distinct docs share no shingles -> no other collisions
        assert n <= 50 * 49 // 2 * 4  # cap quadratic x bands, >> actual
        assert n < _pair_count_unguarded_would_explode() * 0.1
        assert any("hot-bucket guard" in r.message for r in caplog.records)
        assert any(f"> {50} members" in r.message for r in caplog.records)

    def test_guard_is_noop_on_benign_corpus(self, spark):
        """Default cap (5000) on the real sf0.001 documents table: result
        identical to the uncapped run — the guard only bites on skew."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        kw = dict(k=3, num_hashes=16, bands=4, threshold=0.4)
        capped = dedup.minhash_lsh_pairs(docs, "doc_id", "text", **kw)
        uncapped = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket_size=None, **kw
        )
        assert capped.exceptAll(uncapped).count() == 0
        assert uncapped.exceptAll(capped).count() == 0

    def test_guard_adds_no_plan_when_nothing_is_hot(self, spark, skewed_docs):
        """The guard collects the hot keys at build time; with none over
        the cap the pair plan carries no anti join at all."""
        from mysql_data_quality_spark.plans.compiler import formatted_plan

        kw = dict(k=3, num_hashes=16, bands=4, threshold=0.5)
        benign = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text", max_bucket_size=FAMILY, **kw
        )
        assert "LeftAnti" not in formatted_plan(benign)
        guarded = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text", max_bucket_size=50, **kw
        )
        assert "LeftAnti" in formatted_plan(guarded)


class TestStarEdges:
    def test_star_output_is_linear(self, spark, skewed_docs):
        """star_edges: bucket output is bucket-min <-> member, so the
        whole template family costs <= bands * n edges (each doc emits
        at most one member->bucket-min edge per band) — linear in n,
        not quadratic."""
        pairs = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text",
            k=3, num_hashes=16, bands=4, threshold=0.5,
            max_bucket_size=None, star_edges=True,
        )
        rows = pairs.collect()
        assert len(rows) <= 4 * (FAMILY + DISTINCT)
        assert len(rows) < _pair_count_unguarded_would_explode() * 0.05
        # every edge anchors at a bucket minimum; doc_a < doc_b holds
        assert all(r.doc_a < r.doc_b for r in rows)

    def test_star_preserves_cluster_connectivity(self, spark, skewed_docs):
        """The clustering consumer gets the SAME component for the
        template family from linear star edges as from quadratic
        all-pairs: duplicate_clusters over star edges puts every family
        member in one cluster."""
        pairs = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text",
            k=3, num_hashes=16, bands=4, threshold=0.5,
            max_bucket_size=None, star_edges=True,
        )
        clusters = dedup.duplicate_clusters(pairs)
        fam = (
            clusters.where(F.col("doc_id") < FAMILY)
            .agg(
                F.countDistinct("cluster_id").alias("ncl"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        assert fam["ncl"] == 1
        assert fam["n"] == FAMILY

    def test_star_edges_subset_of_all_pairs(self, spark, skewed_docs):
        """Star edges are a SUBSET of the all-pairs output at the same
        threshold (same buckets, same scoring) — the mode changes which
        pairs are enumerated, never invents one."""
        kw = dict(k=3, num_hashes=16, bands=4, threshold=0.5,
                  max_bucket_size=None)
        star = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text", star_edges=True, **kw
        )
        full = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", "text", **kw
        )
        assert star.exceptAll(full).count() == 0
