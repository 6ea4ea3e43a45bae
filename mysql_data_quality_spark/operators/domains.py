"""Domain-level quality filtering — drop WHOLE SITES whose pages mostly
fail the rule registry (the RefinedWeb/C4 "bad neighborhood" stage:
content farms craft individual pages that squeak past per-document
filters, but a site where most pages fail is junk end to end).

Two-pass shape, both passes scale-safe:

  1. STATS — run the engine's own decisions over the corpus and
     aggregate ``(domain, n_docs, n_keep, keep_rate)``.  The decisions
     plan is a pure map (zero exchanges — plan-asserted elsewhere); the
     rollup is a plain ``groupBy(domain)`` over count/sum, which is
     map-side combinable, so at most one partial row per (domain, map
     task) reaches a reducer and a hot domain cannot pin one (same
     adjudication as :func:`operators.skew.domain_stats`).  Output is
     one row per domain — tiny relative to the corpus.
  2. FILTER — domains failing ``keep_rate < threshold`` (with an
     ``min_docs`` evidence floor so a 1-page domain isn't condemned by
     one bad page) form a drop list that is BROADCAST anti-joined
     against the corpus on the shared domain key
     (:func:`functions.urls.url_host_col` — the repo's ONE extractor).
     The corpus text never rides a shuffle.

Threshold comparison is ``n_keep < threshold * n_docs`` (one IEEE
multiply, bit-equal across Spark and DuckDB) rather than a derived
ratio compare, so the kept SET is engine-exact — the DuckDB twin
(:func:`domain_quality_filtered_sql`) replays it for the parity tests.

Reference analogue: table-level quality score banding
(``/root/reference/src/data_quality/reports/summary.py``) rates a whole
table by its rule outcomes; this rates a whole domain and ACTS on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.functions.urls import url_host_col, url_host_sql


def domain_keep_stats(
    pages: DataFrame,
    url_col: str = "url",
    rules: tuple | None = None,
) -> DataFrame:
    """(domain, n_docs, n_keep, keep_rate) from the engine's own
    decisions — the per-site report a crawl curator reads before
    choosing a threshold."""
    from mysql_data_quality_spark.pipeline import quality_filter as QF

    dec = QF.decisions(pages, rules=rules).select(
        url_host_col(F.col(url_col)).alias("domain"),
        F.col("keep").cast("long").alias("_k"),
    )
    return dec.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_k").alias("n_keep"),
        (
            F.sum("_k").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("keep_rate"),
    )


def bad_domains(
    stats: DataFrame,
    threshold: float,
    min_docs: int = 5,
) -> DataFrame:
    """Domains with enough evidence (``n_docs >= min_docs``) whose pages
    mostly fail: ``n_keep < threshold * n_docs``."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    return stats.where(
        (F.col("n_docs") >= F.lit(int(min_docs)))
        & (
            F.col("n_keep").cast("double")
            < F.lit(float(threshold)) * F.col("n_docs").cast("double")
        )
    ).select("domain")


def domain_quality_filtered(
    pages: DataFrame,
    threshold: float,
    min_docs: int = 5,
    url_col: str = "url",
    rules: tuple | None = None,
) -> DataFrame:
    """The corpus minus every document on a below-threshold domain —
    including that domain's individually-passing pages (the point of the
    stage).  Columns and row bytes of survivors are untouched."""
    drop = F.broadcast(bad_domains(
        domain_keep_stats(pages, url_col, rules), threshold, min_docs
    ))
    return (
        pages.withColumn("_dom", url_host_col(F.col(url_col)))
        .join(drop.withColumnRenamed("domain", "_dom"), on="_dom",
              how="left_anti")
        .drop("_dom")
    )


def domain_keep_stats_sql(
    pages_rel: str, url_col: str = "url", rules: tuple | None = None
) -> str:
    """DuckDB twin of :func:`domain_keep_stats` (decisions via the shared
    generated SQL)."""
    from mysql_data_quality_spark.pipeline import quality_filter as QF

    dec = QF.decisions_sql(pages_rel, rules=rules)
    return f"""
select {url_host_sql(url_col)} as domain,
       count(*) as n_docs,
       cast(sum(case when keep then 1 else 0 end) as bigint) as n_keep,
       cast(sum(case when keep then 1 else 0 end) as double)
         / cast(count(*) as double) as keep_rate
from ({dec}) _dec
group by 1
"""


def domain_quality_filtered_sql(
    pages_rel: str,
    threshold: float,
    min_docs: int = 5,
    url_col: str = "url",
    rules: tuple | None = None,
) -> str:
    """DuckDB twin of :func:`domain_quality_filtered` — ``not exists``
    mirrors the Spark left-anti join (a NULL/'' domain matches only an
    identical drop-list entry, same as Spark's equi-key semantics)."""
    stats = domain_keep_stats_sql(pages_rel, url_col, rules)
    return f"""
select p.* from {pages_rel} p
where not exists (
  select 1 from ({stats}) s
  where s.n_docs >= {int(min_docs)}
    and cast(s.n_keep as double)
        < {float(threshold)!r} * cast(s.n_docs as double)
    and s.domain = {url_host_sql('p.' + url_col)}
)
"""
