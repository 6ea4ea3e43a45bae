"""Per-partition checkpointed, resumable writes with lineage.

North-rule requirement (BASELINE.json): "resumable from per-partition
checkpoints with lineage and rule-hit metrics tables".  No reference
counterpart (the reference is single-process, SURVEY.md §2.7) — this is the
scale mechanism that makes a 10^12-row run restartable.

Design (idempotent-partition-overwrite + bookkeeping, SURVEY.md §4.2):
  * the corpus is bucketed by ``pmod(xxhash64(url), n_buckets)`` — a pure
    function of the row, so bucket membership is identical across runs,
    partitionings, and cluster sizes;
  * ONE write job per run covers every missing bucket
    (``partitionBy("bucket")`` + dynamic partition overwrite), so the input
    is scanned once per run — not once per bucket group.  Re-writing a
    bucket is idempotent because the pipeline is a pure map of the row;
  * lineage (one row per bucket: rows, kept, written_at) is computed from
    the files just written — a partition-pruned read of only (bucket, keep)
    — never by re-executing the upstream plan, so the counts describe the
    data that actually landed, and a second full pipeline pass is avoided;
  * lineage is committed in groups of ``group_size`` buckets AFTER the data
    lands; a crash between data and lineage just re-writes the uncommitted
    buckets (idempotent).  Buckets that produced zero rows still get a
    lineage record (rows=0) — otherwise sparse buckets would be re-run on
    every resume, forever;
  * resume = read lineage, process only missing buckets.

100 TB notes: n_buckets in the thousands; one run = one input pass.  The
write distributes the decision rows by ``bucket`` with a ``rebalance``
hint (Iceberg's ``write.distribution-mode=hash``): one exchange of the
narrow decision rows, above the rule plan and its ``observe_metrics``
node, which stay on the map side.  AQE sizes that exchange from its
measured shuffle bytes, coalescing small buckets into one task and
splitting a reduce partition over the advisory partition size, so a
bucket lands in one file per run until its share of the run exceeds the
advisory size, and in about bytes / advisory-size files after that —
never one file per upstream task (the small-files problem of writing
straight from the scan tasks: up to tasks × buckets files per run).
Because ``bucket`` is computed from the row, the source filter cannot
prune files; store the source physically partitioned/bucketed by the
same hash if re-runs over a subset must avoid full scans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: AQE replaces a shuffle stage that produced no rows, and every node under
#: it, with an empty relation.  The write's rebalance stage holds the
#: caller's ``observe`` node, so on an all-empty batch the observation
#: would vanish with it (``Observation.get`` then fails); the rule is
#: excluded for the write job only.
_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_PROPAGATE_EMPTY = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


@contextmanager
def _keep_empty_stages(spark: SparkSession):
    prev = spark.conf.get(_EXCLUDED_RULES, None)
    spark.conf.set(
        _EXCLUDED_RULES,
        f"{prev},{_PROPAGATE_EMPTY}" if prev else _PROPAGATE_EMPTY,
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_EXCLUDED_RULES)
        else:
            spark.conf.set(_EXCLUDED_RULES, prev)


def with_bucket(df: DataFrame, key: str = "url", n_buckets: int = 16) -> DataFrame:
    """Deterministic bucket id — pure function of the key."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


class CheckpointedWriter:
    """Resumable bucket-partitioned parquet writer with lineage."""

    def __init__(self, out_dir: str, n_buckets: int = 16, key: str = "url"):
        self.out_dir = Path(out_dir)
        self.data_dir = self.out_dir / "data"
        self.lineage_dir = self.out_dir / "lineage"
        self.n_buckets = n_buckets
        self.key = key

    # -- lineage bookkeeping (tiny JSON files: atomic-rename commit) -------
    def completed_buckets(self) -> set[int]:
        if not self.lineage_dir.exists():
            return set()
        done = set()
        for p in self.lineage_dir.glob("bucket_*.json"):
            rec = json.loads(p.read_text())
            done.add(int(rec["bucket"]))
        return done

    def _commit_lineage(self, records: list[dict]) -> None:
        self.lineage_dir.mkdir(parents=True, exist_ok=True)
        for rec in records:
            tmp = self.lineage_dir / f".bucket_{rec['bucket']}.json.tmp"
            final = self.lineage_dir / f"bucket_{rec['bucket']}.json"
            tmp.write_text(json.dumps(rec))
            tmp.rename(final)  # atomic commit

    # -- stats from the WRITTEN files (never the upstream plan) ------------
    def _written_stats(self, spark: SparkSession, buckets: list[int]) -> dict:
        """{bucket: (rows, kept)} read back from the just-written partition
        directories — partition-pruned, reads only the ``keep`` column.

        Only the KNOWN empty-output shapes short-circuit to {} (no data
        dir, or a dir holding nothing but _SUCCESS markers — no
        ``bucket=*`` partition directories).  Any other read failure
        propagates: swallowing it here would commit every bucket in the
        batch to lineage as rows=0 and permanently skip them with wrong
        counts on resume (ADVICE r2)."""
        if not self.data_dir.exists():
            return {}
        if not any(self.data_dir.glob("bucket=*")):
            return {}  # all-empty output: nothing but _SUCCESS on disk
        written = spark.read.parquet(str(self.data_dir))
        rows = (
            written
            .where(F.col("bucket").isin(buckets))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
            )
            .collect()
        )
        return {int(r["bucket"]): (int(r["rows"]), int(r["kept"] or 0)) for r in rows}

    # -- write --------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        group_size: int = 4,
        fail_after_groups: int | None = None,
    ) -> dict:
        """Write ``df`` (must contain `keep`), all missing buckets in one
        scan.

        ``fail_after_groups`` injects a crash for the resume test (crash
        happens after that many lineage commit groups; ``0`` crashes before
        anything is written).  Returns run stats.  Already-completed buckets
        are skipped, so re-running after a crash converges to the identical
        final table.

        Layout: each batch is rebalanced by ``bucket`` before the
        ``partitionBy("bucket")`` write — one exchange of the decision
        rows — so AQE hands every bucket to one advisory-sized task and
        each bucket lands in one file per run, or about bytes /
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` files once it
        outgrows that size.

        The layout never affects row content: resume/idempotence
        semantics are unchanged (pinned by test).
        """
        spark = df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        if fail_after_groups == 0:
            raise RuntimeError("injected crash after 0 groups (resume test)")
        bdf = with_bucket(df, self.key, self.n_buckets)
        done = self.completed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        stats = {}
        if todo:
            # ONE job: pipeline scan → rebalance by bucket → bucket-
            # partitioned dynamic overwrite
            out = bdf.where(F.col("bucket").isin(todo)).hint(
                "rebalance", "bucket"
            )
            with _keep_empty_stages(spark):
                out.write.mode("overwrite").partitionBy("bucket").parquet(
                    str(self.data_dir)
                )
            # lineage from what landed; every missing bucket gets a
            # record (rows=0 for buckets that produced no output files)
            stats = self._written_stats(spark, todo)
        for committed_groups, i in enumerate(range(0, len(todo), group_size)):
            if (
                fail_after_groups is not None
                and committed_groups >= fail_after_groups
            ):
                raise RuntimeError(
                    f"injected crash after {committed_groups} groups "
                    "(resume test)"
                )
            now = time.time()
            self._commit_lineage(
                [
                    {
                        "bucket": b,
                        "rows": stats.get(b, (0, 0))[0],
                        "kept": stats.get(b, (0, 0))[1],
                        "written_at": now,
                    }
                    for b in todo[i : i + group_size]
                ]
            )
        return {
            "n_buckets": self.n_buckets,
            "skipped": len(done),
            "written": len(todo),
            "input_scans": int(bool(todo)),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.data_dir))

    def lineage(self, spark: SparkSession) -> DataFrame:
        recs = [
            json.loads(p.read_text())
            for p in sorted(self.lineage_dir.glob("bucket_*.json"))
        ]
        return spark.createDataFrame(
            recs, "bucket: int, rows: long, kept: long, written_at: double"
        )
