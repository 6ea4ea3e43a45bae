"""Deterministic hash-based corpus sampling — the membership test that
DSIR's keep draw, the perplexity-bucket cut and the trainers' bounded
samples share.

Why hash-based instead of ``df.sample()``: Spark's sampler is seeded but
PARTITIONING-dependent (each partition draws its own stream), so adding
an executor changes the sample — unacceptable for reproducible training
corpora.  Here membership is a pure function of the row's id:
``u(id) = md5_60(seed || ':' || id) / 2^60`` is uniform in [0, 1) and
IDENTICAL in Spark and DuckDB (the cross-engine hash family from
:mod:`operators.dedup`), so the selected row SET is bit-stable across
partitionings, cluster widths, engines, and reruns — and the oracle can
verify the exact rows, not just the rate.

Scale shape: the sampler is a pure map over the scan (zero shuffles,
whole-stage codegen); at 10^12 docs these cost one md5 per row on top of
the read.  Reference analogue: the count-gated ``ORDER BY RAND() LIMIT
n`` sampler (``/root/reference/src/data_quality/cli.py:237-246``) — a
full random sort in the source DB that is neither stable nor
distributed; this module is its scale-correct generalization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.operators.dedup import (
    md5_int60_col,
    md5_int60_sql,
)

_DENOM = float(1 << 60)


def unit_hash_col(id_col: Column, seed: int = 0) -> Column:
    """Deterministic uniform [0, 1) per id (double; exact dyadic ratio of
    a 60-bit int, so cross-engine bit-identical)."""
    key = F.concat(F.lit(f"{seed}:"), id_col.cast("string"))
    return md5_int60_col(key) / F.lit(_DENOM)


def unit_hash_sql(id_expr: str, seed: int = 0) -> str:
    key = f"'{seed}:' || cast({id_expr} as varchar)"
    return f"(cast({md5_int60_sql(key)} as double) / {_DENOM!r})"


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~``fraction`` of rows, membership a pure function of the id
    (stable under any partitioning/engine; same id set on every run)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]: {fraction}")
    return df.where(unit_hash_col(F.col(id_col), seed) < F.lit(fraction))


def hash_sample_sql(
    rel: str, id_expr: str, fraction: float, seed: int = 0
) -> str:
    return (
        f"select * from {rel} "
        f"where {unit_hash_sql(id_expr, seed)} < {fraction!r}"
    )
