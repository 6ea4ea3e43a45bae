"""Iceberg decisions sink — the north rule's named table format.

The deployment shape (BASELINE.json: "writes keep/drop decisions and
scrubbed text back to Iceberg with explicit hash partitioning on url"):

* table partitioning = ``bucket(N, url)`` — Iceberg's hash-bucket
  transform, the catalog-level twin of ``checkpoint.with_bucket``'s
  ``pmod(xxhash64(url), N)`` directory buckets: membership is a pure
  function of the url, so re-writes and resumes land in the same bucket
  on any cluster size;
* idempotent re-runs use ``overwritePartitions()`` (dynamic partition
  overwrite — replayed work replaces exactly its own buckets, the same
  contract the parquet writer gets from ``partitionOverwriteMode``);
* commits are Iceberg-atomic (snapshot swap), so the parquet writer's
  write-then-lineage ordering collapses to one atomic operation; resume
  bookkeeping can read the snapshot summary instead of a lineage dir.

Without an Iceberg runtime jar or catalog on the classpath the writer
raises the typed ``IcebergUnavailable`` gate: the gate and the plumbing
(partition transform spec, writer-v2 calls, create-vs-append logic) are
real and unit-tested; the jar is the only missing piece.
Enable on a real cluster with::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=hdfs://.../warehouse ...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class IcebergUnavailable(RuntimeError):
    """No Iceberg catalog in this Spark session (jar/conf not present)."""


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff ``catalog`` is configured AND its implementation class is
    loadable (config alone is not enough — the conf can name a jar that
    was never shipped)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(impl)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001 — any load failure means unavailable
        return False


def write_decisions_iceberg(
    decisions: DataFrame,
    table: str,
    n_buckets: int = 64,
    url_col: str = "url",
    catalog: str | None = None,
) -> None:
    """Write (or idempotently re-write) decisions to an Iceberg table
    hash-partitioned on ``bucket(n_buckets, url)``.

    ``table`` is a catalog-qualified name (``lake.db.decisions``); the
    catalog defaults to the name's first component.  First write creates
    the table with the bucket partition spec (``createOrReplace``);
    subsequent writes ``overwritePartitions`` — a replayed batch replaces
    its own buckets only.

    .. warning:: the partition spec is applied ONLY at table creation —
       DataFrameWriterV2 ignores ``partitionedBy`` on the overwrite
       path, so for an existing table the TABLE's spec governs replay
       granularity, not this call's ``n_buckets``.  Changing the bucket
       count is an Iceberg partition-spec evolution (``ALTER TABLE ...
       REPLACE PARTITION FIELD``), done once at the catalog, not by
       passing a different ``n_buckets`` here.

    Raises :class:`IcebergUnavailable` when the session has no loadable
    Iceberg catalog (this sandbox).
    """
    from pyspark.sql import functions as F

    spark = decisions.sparkSession
    cat = catalog or table.split(".", 1)[0]
    if not iceberg_available(spark, cat):
        raise IcebergUnavailable(
            f"no loadable Iceberg catalog {cat!r} in this session — ship "
            "iceberg-spark-runtime and spark.sql.catalog conf (see module "
            "docstring)"
        )
    writer = decisions.writeTo(table).partitionedBy(
        F.bucket(n_buckets, F.col(url_col))
    )
    if spark.catalog.tableExists(table):
        writer.overwritePartitions()
    else:
        writer.createOrReplace()
