"""SQL-database source and catalog helpers — the Spark analogue of the
reference's connector layer (its ``src/data_quality/connectors/factory.py``
maps a driver string to a connector class).

Five SQL dialect connectors in the reference collapse to format options
here (SURVEY.md S6): Spark's DataSource abstraction is the dialect layer,
so file formats are plain ``spark.read`` calls and SQL tables go through
:func:`read_jdbc`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """SQL-database source — the Spark analogue of the reference's five
    dialect connectors (``/root/reference/src/data_quality/connectors/
    factory.py:16-46``; mysql/postgresql/oracle/sqlite/sqlserver each built
    a SQLAlchemy engine).  Spark's JDBC DataSource is the dialect layer:
    the ``url`` scheme picks the dialect, ``driver`` the class.

    Scale note: without ``partition_column`` the whole table is read by ONE
    task; always pass (partition_column, lower_bound, upper_bound,
    num_partitions) for any table that matters so the scan parallelizes
    into range-pruned queries per executor."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # passing None through would send the literal string 'None' as
            # the JDBC bound and fail confusingly inside the datasource
            raise ValueError(
                "read_jdbc: partition_column requires both lower_bound and "
                "upper_bound (got lower_bound="
                f"{lower_bound!r}, upper_bound={upper_bound!r})"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions or 8))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# -- catalog helpers (reference S3-S6: counts, table info, listing) ---------


def get_table_count(df: DataFrame) -> int:
    """connectors/base.py:59-66 analogue."""
    return df.count()


def get_table_info(df: DataFrame) -> list[dict]:
    """Per-dialect column-info queries (connectors/mysql.py:42-67 etc.)
    collapse to the DataFrame schema."""
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "nullable": f.nullable,
        }
        for f in df.schema.fields
    ]
