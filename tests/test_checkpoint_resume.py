"""F6 scale/ops fixtures: crash-mid-run resume, idempotent re-run, and
lineage bookkeeping (north rule: identical final table after kill+resume)."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from mysql_data_quality_spark.pipeline import pages as P
from mysql_data_quality_spark.pipeline import quality_filter as QF
from mysql_data_quality_spark.pipeline.checkpoint import (
    CheckpointedWriter,
    with_bucket,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def decisions(spark):
    return QF.decisions(P.read_pages(spark, SF_SMOKE))


def _table(spark, writer):
    return (
        writer.read(spark)
        .select("url", "keep", "drop_reason", "scrubbed_text")
        .orderBy("url")
        .toPandas()
    )


class TestCheckpointResume:
    def test_bucket_is_deterministic(self, spark, decisions):
        a = with_bucket(decisions).select("url", "bucket").orderBy("url").toPandas()
        b = (
            with_bucket(decisions.repartition(7))
            .select("url", "bucket")
            .orderBy("url")
            .toPandas()
        )
        assert (a["bucket"].values == b["bucket"].values).all()

    def test_crash_then_resume_identical(self, spark, decisions, tmp_path):
        # uninterrupted reference run
        ref = CheckpointedWriter(str(tmp_path / "ref"), n_buckets=8)
        stats = ref.run(decisions, group_size=2)
        assert stats["written"] == 8 and stats["skipped"] == 0
        expected = _table(spark, ref)

        # crash after 2 of 4 groups, then resume
        w = CheckpointedWriter(str(tmp_path / "crash"), n_buckets=8)
        with pytest.raises(RuntimeError, match="injected crash"):
            w.run(decisions, group_size=2, fail_after_groups=2)
        assert 0 < len(w.completed_buckets()) < 8
        done_before_resume = len(w.completed_buckets())
        stats2 = w.run(decisions, group_size=2)  # resume
        assert stats2["skipped"] == done_before_resume
        assert stats2["written"] == 8 - done_before_resume
        assert w.completed_buckets() == set(range(8))
        actual = _table(spark, w)
        assert expected.equals(actual)

    def test_rerun_is_idempotent(self, spark, decisions, tmp_path):
        w = CheckpointedWriter(str(tmp_path / "idem"), n_buckets=4)
        w.run(decisions, group_size=4)
        first = _table(spark, w)
        stats = w.run(decisions, group_size=4)  # everything already done
        assert stats["written"] == 0 and stats["skipped"] == 4
        assert _table(spark, w).equals(first)

    def test_lineage_counts(self, spark, decisions, tmp_path):
        w = CheckpointedWriter(str(tmp_path / "lin"), n_buckets=4)
        w.run(decisions, group_size=2)
        lin = w.lineage(spark).toPandas()
        assert len(lin) == 4
        assert lin["rows"].sum() == decisions.count()
        kept = decisions.where("keep").count()
        assert lin["kept"].sum() == kept

    def test_single_input_scan_per_run(self, spark, decisions, tmp_path):
        """The input pipeline is executed ONCE per run, regardless of how
        many lineage commit groups there are (r1 verdict item 1): one write
        job covers all todo buckets; lineage stats come from the written
        files, not a re-execution.  Proven two ways: the self-reported scan
        count, and the physical Spark job count (the old per-group design
        ran 2 jobs x n_groups = 16 here; the new one runs a small constant)."""
        w = CheckpointedWriter(str(tmp_path / "scan"), n_buckets=8)
        sc = spark.sparkContext
        sc.setJobGroup("ckpt-scan-count", "single-scan proof")
        try:
            stats = w.run(decisions, group_size=1)  # 8 commit groups
        finally:
            sc.setJobGroup("", "")
        assert stats["input_scans"] == 1
        jobs = sc.statusTracker().getJobIdsForGroup("ckpt-scan-count")
        assert 0 < len(jobs) <= 6, f"expected O(1) jobs, got {len(jobs)}"

    def test_empty_buckets_get_lineage(self, spark, tmp_path):
        """Buckets that produce zero output rows still get lineage records
        (rows=0) — otherwise sparse buckets are re-run on every resume and
        run() misreports them as written (ADVICE r1)."""
        tiny = spark.createDataFrame(
            [("https://a.example/1", True), ("https://b.example/2", False)],
            "url: string, keep: boolean",
        )
        w = CheckpointedWriter(str(tmp_path / "sparse"), n_buckets=8)
        stats = w.run(tiny, group_size=3)
        assert stats["written"] == 8
        assert w.completed_buckets() == set(range(8))
        lin = w.lineage(spark).toPandas()
        assert len(lin) == 8
        assert lin["rows"].sum() == 2
        assert (lin["rows"] == 0).sum() >= 6
        # re-run is a no-op: nothing left to scan or write
        stats2 = w.run(tiny, group_size=3)
        assert stats2["written"] == 0 and stats2["skipped"] == 8
        assert stats2["input_scans"] == 0


class TestSmallFilesControl:
    def test_default_layout_one_file_per_bucket(self, spark, tmp_path):
        """The write rebalances by bucket, so 8 upstream tasks × 4 buckets
        land in exactly one parquet file per bucket (writing straight from
        the scan tasks opened one file per task per bucket — the 100 TB
        small-files problem), with rows identical to the input."""
        rows = spark.createDataFrame(
            [(f"https://d{i}.example/x", i % 2 == 0) for i in range(400)],
            "url: string, keep: boolean",
        ).repartition(8)
        w = CheckpointedWriter(str(tmp_path / "layout"), n_buckets=4)
        w.run(rows)
        files = {
            d.name: len(list(d.glob("*.parquet")))
            for d in w.data_dir.glob("bucket=*")
        }
        assert len(files) == 4
        assert all(n == 1 for n in files.values()), files
        got = w.read(spark).drop("bucket").orderBy("url").toPandas()
        want = rows.orderBy("url").toPandas()
        assert got.equals(want)  # layout-only change

    def test_observation_survives_empty_batch(self, spark, tmp_path):
        """An ``observe`` node below the write's rebalance must still
        report when no row reaches the write (AQE would otherwise drop the
        empty shuffle stage, and the observation with it)."""
        rows = spark.createDataFrame(
            [(f"https://f{i}.example/x", False) for i in range(20)],
            "url: string, keep: boolean",
        ).where(F.col("keep"))
        obs = Observation("empty_batch")
        w = CheckpointedWriter(str(tmp_path / "empty"), n_buckets=4)
        w.run(rows.observe(obs, F.count(F.lit(1)).alias("n")))
        assert obs.get == {"n": 0}
        assert w.completed_buckets() == set(range(4))


class TestWrittenStatsFailures:
    def test_transient_read_failure_propagates(self, spark, tmp_path):
        """ADVICE r2: _written_stats used to catch ALL read exceptions and
        return {}, committing every bucket as rows=0 lineage and
        permanently skipping it with wrong counts.  A corrupted/unreadable
        data file must now fail the run BEFORE lineage is committed."""
        tiny = spark.createDataFrame(
            [(f"https://x.example/{i}", True) for i in range(50)],
            "url: string, keep: boolean",
        )
        w = CheckpointedWriter(str(tmp_path / "corrupt"), n_buckets=4)
        w.run(tiny, group_size=2)
        # corrupt every data file in place (truncate to garbage): the
        # stats read-back must now RAISE, where the old blanket except
        # returned {} (i.e. "every bucket wrote rows=0")
        for p in w.data_dir.rglob("*.parquet"):
            p.write_bytes(b"not a parquet file")
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            w._written_stats(spark, [0, 1, 2, 3])

    def test_success_marker_only_dir_is_empty_output(self, spark, tmp_path):
        """The legitimate {} case: a data dir holding only _SUCCESS (a
        run whose every bucket produced zero rows) reads as no stats."""
        w = CheckpointedWriter(str(tmp_path / "empty"), n_buckets=4)
        w.data_dir.mkdir(parents=True)
        (w.data_dir / "_SUCCESS").write_text("")
        assert w._written_stats(spark, [0, 1, 2, 3]) == {}


class TestRandomizedCrashPoints:
    def test_every_crash_point_converges(self, spark, decisions, tmp_path):
        """Crash after ANY number of lineage commit groups, then resume:
        the final table is always bit-identical to the uninterrupted run."""
        ref = CheckpointedWriter(str(tmp_path / "ref"), n_buckets=8)
        ref.run(decisions, group_size=2)
        expected = _table(spark, ref)
        for fail_after in (0, 1, 3):
            w = CheckpointedWriter(
                str(tmp_path / f"crash{fail_after}"), n_buckets=8
            )
            with pytest.raises(RuntimeError, match="injected crash"):
                w.run(decisions, group_size=2, fail_after_groups=fail_after)
            assert len(w.completed_buckets()) == fail_after * 2
            w.run(decisions, group_size=2)  # resume
            assert w.completed_buckets() == set(range(8))
            assert _table(spark, w).equals(expected)


class TestIcebergSink:
    """Env-gated on the Iceberg runtime jar: the gate and plumbing are
    tested; the jar is what a plain local session lacks."""

    def test_unavailable_raises_with_guidance(self, spark):
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline.iceberg_sink import (
            IcebergUnavailable,
            write_decisions_iceberg,
        )
        from tests.conftest import SF_SMOKE

        import pytest

        dec = P.read_pages(spark, SF_SMOKE).limit(5)
        with pytest.raises(IcebergUnavailable, match="iceberg-spark-runtime"):
            write_decisions_iceberg(dec, "lake.db.decisions")

    def test_available_requires_loadable_class(self, spark):
        """Config alone must NOT count as available: a conf naming a
        class that is not on the classpath is still unavailable."""
        from mysql_data_quality_spark.pipeline.iceberg_sink import (
            iceberg_available,
        )

        assert not iceberg_available(spark, "lake")
        spark.conf.set(
            "spark.sql.catalog.lake",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        try:
            assert not iceberg_available(spark, "lake")  # class not shipped
            # a class that IS loadable flips the gate
            spark.conf.set(
                "spark.sql.catalog.lake", "java.lang.String"
            )
            assert iceberg_available(spark, "lake")
        finally:
            spark.conf.unset("spark.sql.catalog.lake")
