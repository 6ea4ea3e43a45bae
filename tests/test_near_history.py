"""Cross-run NEAR-dup dedup against an LSH band-hash history: two-run
semantics (near-copies of previously-kept docs drop, fresh docs
survive, short docs pass through), geometry pinning, the deferred
commit_near_history composition, the no-text-on-shuffles plan contract,
and the CLI composition across two filter runs plus compact-history.
The store mechanics shared with the exact and semantic histories are
checked in test_history_store.py."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators import dedup as D
from mysql_data_quality_spark.operators import history as H

BASE = (
    "the data table has a key and the query can join this row with that "
    "column value for the group and the sort will merge all of it in order"
)
OTHER = (
    "completely different content about streams windows and vector "
    "batches merging fast across the wide scan"
)
FRESH = (
    "brand new unrelated document about hash scan filter sort merge "
    "group stream batch index count sum value"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


class TestNearDedupAgainstHistory:
    def test_two_run_semantics(self, spark, tmp_path):
        hd = str(tmp_path / "nh")
        run1 = _docs(spark, [
            (1, BASE + " one"),
            (2, BASE + " one extra words appended here to vary slightly"),
            (3, OTHER),
        ])
        out1 = D.near_dedup_against_history(run1, "doc_id", "text", hd)
        assert sorted(r["doc_id"] for r in out1.collect()) == [1, 3]
        run2 = _docs(spark, [
            (10, BASE + " one tail"),  # near-copy of kept doc 1
            (11, FRESH),
            (12, "short"),             # < k tokens: no signature
        ])
        out2 = D.near_dedup_against_history(run2, "doc_id", "text", hd)
        assert sorted(r["doc_id"] for r in out2.collect()) == [11, 12]
        # run 2's survivors are now history too
        run3 = _docs(spark, [(20, FRESH + " with a tiny tail")])
        out3 = D.near_dedup_against_history(run3, "doc_id", "text", hd)
        assert out3.count() == 0

    def test_empty_batch(self, spark, tmp_path):
        """An empty batch bootstraps/commits an empty run without error
        and leaves the history usable."""
        hd = str(tmp_path / "nh")
        empty = _docs(spark, [])
        out = D.near_dedup_against_history(empty, "doc_id", "text", hd)
        assert out.count() == 0
        # real run after the empty commit: history reads fine
        out2 = D.near_dedup_against_history(
            _docs(spark, [(1, BASE)]), "doc_id", "text", hd
        )
        assert out2.count() == 1

    def test_geometry_pinned(self, spark, tmp_path):
        hd = str(tmp_path / "nh")
        df = _docs(spark, [(1, BASE)])
        D.near_dedup_against_history(df, "doc_id", "text", hd)
        assert os.path.exists(f"{hd}/{H.MANIFEST}")
        with pytest.raises(ValueError, match="incomparable"):
            D.near_dedup_against_history(df, "doc_id", "text", hd, bands=4)
        with pytest.raises(ValueError, match="incomparable"):
            D.commit_near_history(df, "doc_id", "text", hd, num_hashes=64)

    def test_probe_only_is_write_free(self, spark, tmp_path):
        """A probe (update_history=False) against a fresh history dir
        creates neither the dir nor the manifest, so a read-only mount
        survives the first probe; geometry drift is still caught once
        the manifest exists."""
        hd = tmp_path / "nh-readonly"
        out = D.near_dedup_against_history(
            _docs(spark, [(1, BASE), (3, OTHER)]), "doc_id", "text",
            str(hd), update_history=False,
        )
        assert out.count() == 2
        assert not hd.exists(), list(hd.iterdir()) if hd.exists() else None
        D.near_dedup_against_history(
            _docs(spark, [(1, BASE)]), "doc_id", "text", str(hd)
        )
        assert (hd / H.MANIFEST).exists()
        with pytest.raises(ValueError, match="incomparable"):
            D.near_dedup_against_history(
                _docs(spark, [(1, BASE)]), "doc_id", "text", str(hd),
                bands=4, update_history=False,
            )

    def test_crashed_staging_invisible(self, spark, tmp_path):
        hd = str(tmp_path / "nh")
        D.near_dedup_against_history(
            _docs(spark, [(1, BASE)]), "doc_id", "text", hd
        )
        # simulate a crashed append: hidden staging dir with garbage
        os.makedirs(f"{hd}/_tmp-deadbeef")
        with open(f"{hd}/_tmp-deadbeef/part-0.parquet", "w") as f:
            f.write("not parquet")
        out = D.near_dedup_against_history(
            _docs(spark, [(10, BASE + " tail")]), "doc_id", "text", hd
        )
        assert out.count() == 0  # committed history still effective

    def test_star_edges_same_survivors(self, spark, tmp_path):
        """star_edges changes only the within-batch pair enumeration —
        the keep set (cluster minima + unclustered) and the committed
        band history are identical to all-pairs mode here."""
        rows = [
            (1, BASE + " one"),
            (2, BASE + " one extra words appended here to vary slightly"),
            (3, OTHER),
            (4, FRESH),
        ]
        out_a = D.near_dedup_against_history(
            _docs(spark, rows), "doc_id", "text",
            str(tmp_path / "nh_a"),
        )
        out_s = D.near_dedup_against_history(
            _docs(spark, rows), "doc_id", "text",
            str(tmp_path / "nh_s"), star_edges=True,
        )
        keep = sorted(r["doc_id"] for r in out_a.collect())
        assert keep == sorted(r["doc_id"] for r in out_s.collect())
        assert keep == [1, 3, 4]
        # committed band hashes identical -> identical future probes
        # (band/bh only: the run= partition id is per-commit metadata)
        a = spark.read.parquet(str(tmp_path / "nh_a")).select("band", "bh")
        s = spark.read.parquet(str(tmp_path / "nh_s")).select("band", "bh")
        assert a.exceptAll(s).count() == 0 and s.exceptAll(a).count() == 0

    def test_deferred_commit_composition(self, spark, tmp_path):
        hd = str(tmp_path / "nh")
        run1 = _docs(spark, [(1, BASE + " one"), (3, OTHER)])
        out1 = D.near_dedup_against_history(
            run1, "doc_id", "text", hd, update_history=False
        )
        assert out1.count() == 2
        # nothing committed yet: a re-probe bootstraps and keeps all
        probe = D.near_dedup_against_history(
            run1, "doc_id", "text", hd, update_history=False
        )
        assert probe.count() == 2
        D.commit_near_history(out1, "doc_id", "text", hd)
        # now committed: near-copies drop
        run2 = _docs(spark, [(10, BASE + " one tail")])
        out2 = D.near_dedup_against_history(run2, "doc_id", "text", hd)
        assert out2.count() == 0

    def test_text_never_on_shuffles(self, spark, tmp_path):
        from mysql_data_quality_spark.plans.compiler import formatted_plan
        from tests.conftest import SF_CORRECT

        hd = str(tmp_path / "nh")
        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        D.near_dedup_against_history(
            docs.limit(50), "doc_id", "text", hd
        )
        # the operator pins (localCheckpoint) its result, which cuts the
        # returned frame's lineage — so assert the contract on the same
        # building blocks it composes: band probe + anti join
        sigs = D.minhash_signatures(docs, "doc_id", "text", 3, 32)
        banded = D.band_rows(sigs, 32, 8)
        hist = spark.read.parquet(hd).select("band", "bh")
        seen = (
            banded.join(hist, on=["band", "bh"])
            .select("doc_id")
            .distinct()
        )
        out = docs.join(F.broadcast(seen), on="doc_id", how="left_anti")
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan  # the seen-id anti join
        blocks = re.split(r"\n\n", plan)
        shuffles = [
            b for b in blocks if re.match(r"\(\d+\) Exchange", b.strip())
        ]
        assert shuffles, "expected shuffle Exchanges (band probe)"
        for b in shuffles:
            assert not re.search(r"\btext#", b), (
                f"corpus text rides a shuffle:\n{b}"
            )

    def test_cli_two_runs(self, spark, tmp_path, monkeypatch, capsys):
        from mysql_data_quality_spark import cli

        monkeypatch.chdir(tmp_path)
        hd = str(tmp_path / "nh")

        def pages(rows):
            return (
                spark.createDataFrame(rows, "url: string, text: string")
                .withColumn("lang", F.lit("en"))
                .withColumn("warc_ts", F.current_timestamp())
                .withColumn("html", F.lit(None).cast("binary"))
            )

        src1 = str(tmp_path / "in1")
        pages([
            ("https://a.org/1", BASE + " one"),
            ("https://a.org/2", OTHER),
        ]).write.parquet(src1)
        rc = cli.main(
            ["filter", "--input", src1,
             "--output", str(tmp_path / "out1"),
             "--buckets", "2", "--near-history", hd]
        )
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["near_history_dir"] == hd
        src2 = str(tmp_path / "in2")
        pages([
            ("https://b.org/1", BASE + " one tail"),  # near-copy of a.org/1
            ("https://b.org/2", FRESH),
        ]).write.parquet(src2)
        rc = cli.main(
            ["filter", "--input", src2,
             "--output", str(tmp_path / "out2"),
             "--buckets", "2", "--near-history", hd]
        )
        assert rc == 0
        urls = {
            r["url"]
            for r in spark.read.parquet(
                str(tmp_path / "out2" / "data")
            ).select("url").collect()
        }
        assert urls == {"https://b.org/2"}
        # compact-history reads the key columns from the history itself
        bands = spark.read.parquet(hd).select("band", "bh").distinct().count()
        capsys.readouterr()
        assert cli.main(["compact-history", hd]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["distinct_hashes"] == bands
        assert len([d for d in os.listdir(hd) if d.startswith("run=")]) == 1


class TestBloomHistoryPrefilter:
    """history_prefilter='bloom' on the exact and near cross-run dedup:
    result equivalence with the plain anti join (including under a
    saturated 1-KiB bloom), the no-false-negatives bloom law, and the
    reduced-history plan contract."""

    def _three_runs(self, spark, tmp_path, **kw):
        hd = str(tmp_path / "bh")
        r1 = _docs(spark, [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")])
        o1 = D.dedup_against_history(r1, "doc_id", "text", hd, **kw)
        r2 = _docs(spark, [(10, "alpha doc"), (11, "gamma doc")])
        o2 = D.dedup_against_history(r2, "doc_id", "text", hd, **kw)
        r3 = _docs(spark, [(20, "gamma doc"), (21, "delta doc")])
        o3 = D.dedup_against_history(r3, "doc_id", "text", hd, **kw)
        return [sorted(r["doc_id"] for r in o.collect()) for o in (o1, o2, o3)]

    def test_equivalent_to_plain_anti_join(self, spark, tmp_path):
        plain = self._three_runs(spark, tmp_path / "a")
        bloom = self._three_runs(
            spark, tmp_path / "b", history_prefilter="bloom"
        )
        assert plain == bloom == [[1, 2], [11], [21]]

    def test_saturated_bloom_still_exact(
        self, spark, tmp_path, monkeypatch
    ):
        # a 1-KiB bloom (fpp -> high): the result must not change
        monkeypatch.setattr(H, "BLOOM_MAX_BITS", 1024)
        out = self._three_runs(spark, tmp_path, history_prefilter="bloom")
        assert out == [[1, 2], [11], [21]]

    def _hashed(self, spark, texts):
        return _docs(spark, list(enumerate(texts))).withColumn(
            "text_md5", F.md5("text")
        )

    def test_bloom_no_false_negatives(self, spark, tmp_path):
        """Every inserted batch key MUST pass the built bitset — the
        property that makes fpp a pure performance knob."""
        hashed = self._hashed(spark, [f"doc number {i}" for i in range(200)])
        store = H.HistoryStore(spark, str(tmp_path / "h"), ("text_md5",))
        assert store._bloom(hashed, hashed).count() == 200

    def test_bloom_filters_unrelated_hashes(self, spark, tmp_path):
        """A well-sized bloom rejects MOST non-members (sanity that the
        prefilter actually reduces the history side)."""
        member = self._hashed(spark, [f"doc number {i}" for i in range(100)])
        other = self._hashed(spark, [f"unrelated {i}" for i in range(1000)])
        store = H.HistoryStore(spark, str(tmp_path / "h"), ("text_md5",))
        assert store._bloom(other, member).count() <= 50  # ~1% expected

    def test_empty_batch_returns_none(self, spark, tmp_path):
        """An empty batch builds no bitset: the history is left as is."""
        other = self._hashed(spark, ["x"])
        store = H.HistoryStore(spark, str(tmp_path / "h"), ("text_md5",))
        assert store._bloom(other, self._hashed(spark, [])) is other

    def test_bad_prefilter_value_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="history_prefilter"):
            D.dedup_against_history(
                _docs(spark, [(1, "x")]), "doc_id", "text",
                str(tmp_path / "h"), history_prefilter="cuckoo",
            )

    def test_bloom_filters_history_before_the_join(self, spark, tmp_path):
        """Plan contract: with the prefilter on, the history side carries
        an Arrow-UDF membership filter BEFORE the anti join — the whole
        point is that non-candidate history rows never reach the
        shuffle.  The plain path must carry no Python at all."""
        from mysql_data_quality_spark.plans.compiler import formatted_plan

        hd = str(tmp_path / "ph")
        base = _docs(spark, [(i, f"text number {i}") for i in range(20)])
        D.dedup_against_history(base, "doc_id", "text", hd)
        keys = self._hashed(spark, [f"text number {i}" for i in range(10)])
        store = H.HistoryStore(spark, hd, ("text_md5",))
        p_plain = formatted_plan(store.probe(keys))
        p_bloom = formatted_plan(store.probe(keys, prefilter="bloom"))
        assert "ArrowEvalPython" not in p_plain
        assert "ArrowEvalPython" in p_bloom  # the membership UDF

    def test_near_history_bloom_equivalent(self, spark, tmp_path):
        """history_prefilter='bloom' on the NEAR probe: identical
        survivors to the plain band join across two runs (saturation is
        checked per key shape in test_history_store.py)."""
        outs = {}
        for mode, kw in (
            ("plain", {}),
            ("bloom", {"history_prefilter": "bloom"}),
        ):
            hd = str(tmp_path / f"nh_{mode}")
            r1 = _docs(spark, [
                (1, BASE + " one"),
                (2, BASE + " one extra words appended here to vary slightly"),
                (3, OTHER),
            ])
            o1 = D.near_dedup_against_history(
                r1, "doc_id", "text", hd, **kw
            )
            r2 = _docs(spark, [
                (10, BASE + " one tail"),
                (11, FRESH),
                (12, "short"),
            ])
            o2 = D.near_dedup_against_history(
                r2, "doc_id", "text", hd, **kw
            )
            outs[mode] = [
                sorted(r["doc_id"] for r in o.collect()) for o in (o1, o2)
            ]
        assert outs["plain"] == outs["bloom"]
        assert outs["plain"] == [[1, 3], [11, 12]]

    def test_near_bad_prefilter_value_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="history_prefilter"):
            D.near_dedup_against_history(
                _docs(spark, [(1, BASE)]), "doc_id", "text",
                str(tmp_path / "h"), history_prefilter="xor",
            )
