"""URL domain-blocklist filtering — the C4 / UT1-blocklist stage every
web-corpus pipeline runs before touching document text: drop every page
whose host IS a blocked domain or sits under one (``ads.example.com``
matches a block on ``example.com``).  Suffix semantics are what the
published pipelines use (C4 §2.2 "bad words" source filtering, RefinedWeb
UT1): blocking a registrable domain blocks all its subdomains.

Scale shape:

* the blocklist BROADCASTS — UT1-class lists are a few million short
  strings (tens of MB), far under broadcast limits; the corpus side
  never shuffles for the match;
* each URL expands to its dot-suffix chain on an (id, suffix)
  PROJECTION — the full row never rides the explode — capped at the
  last ``max_labels`` (8) labels so an adversarial 1000-label host
  can't amplify the explode;
* flagged ids collapse via a map-side-combining ``min(domain)`` groupBy
  (ids + short strings on the one shuffle), and the corpus drops them
  with a broadcast anti join (blocked docs are a small fraction of a
  crawl once frontier-level filtering exists).

The per-element suffix lambda re-reads its outer ``split`` per element
(the HOF re-evaluation documented in BENCH.md) — bounded at 8 short
slices per row, negligible unlike the O(n²·k) gram case.

Reference analogue: the reference validates VALUES against format
blocklists/patterns (``/root/reference/src/data_quality/validators/
patterns.py``); this is the URL-keyed corpus-admission version.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.functions.urls import (
    url_host_col,
    url_host_sql,
)

_MAX_LABELS = 8


def host_suffixes_col(url: Column, max_labels: int = _MAX_LABELS) -> Column:
    """Dot-suffix chain of the URL's host, shortest-last:
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com], capped at the last ``max_labels`` labels.  [] for URLs with no
    host."""
    parts = F.split(url_host_col(url), r"\.")
    n = F.size(parts)
    start = F.greatest(F.lit(1), n - F.lit(max_labels - 1))
    return F.when(n > 0, F.transform(
        F.sequence(start, n),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )).otherwise(F.array().cast("array<string>"))


def host_suffixes_sql(url: str, max_labels: int = _MAX_LABELS) -> str:
    parts = f"string_split({url_host_sql(url)}, '.')"
    return (
        f"case when len({parts}) > 0 then "
        f"[array_to_string(({parts})[i:], '.') "
        f"for i in range(greatest(1, len({parts}) - {max_labels - 1}), "
        f"len({parts}) + 1)] else [] end"
    )


def read_blocklist(spark, path: str) -> DataFrame:
    """Load a blocklist: ``*.parquet`` → parquet with a ``domain``
    column; anything else → UT1-style plain text, one domain per line,
    ``#`` comments and blank lines ignored."""
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    lines = spark.read.text(path).select(
        F.trim(F.col("value")).alias("domain")
    )
    return lines.where(
        (F.length("domain") > 0) & ~F.col("domain").startswith("#")
    )


def blocklisted_urls(
    corpus: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """(url, matched_domain) for every corpus URL whose host suffix-chain
    hits the blocklist; ``matched_domain`` is the lexicographically
    smallest hit (deterministic when several list entries match).  The
    blocklist broadcasts; the corpus explodes ids + suffixes only."""
    # entry normalization MIRRORS url_host_col: lowercase + trim + strip
    # trailing root-label dots — an FQDN-spelled entry ('example.com.')
    # must match the same hosts its plain spelling does (r5 review: the
    # host side strips the dot, so an unstripped entry matched nothing)
    bl = blocklist.select(
        F.regexp_replace(
            F.lower(F.trim(F.col(domain_col))), r"\.+$", ""
        ).alias("_bl_domain")
    ).where(F.length("_bl_domain") > 0).distinct()
    sufs = corpus.select(
        F.col(url_col).alias("_bl_url"),
        F.explode(host_suffixes_col(F.col(url_col))).alias("_bl_suffix"),
    )
    return (
        sufs.join(
            F.broadcast(bl),
            sufs["_bl_suffix"] == bl["_bl_domain"],
        )
        .groupBy("_bl_url")
        .agg(F.min("_bl_domain").alias("matched_domain"))
        .select(F.col("_bl_url").alias(url_col), "matched_domain")
    )


def blocklisted_urls_sql(
    corpus_rel: str,
    blocklist_rel: str,
    url_col: str = "url",
    domain_col: str = "domain",
) -> str:
    sufs = host_suffixes_sql(url_col)
    norm_d = f"regexp_replace(lower(trim({domain_col})), '\\.+$', '')"
    return f"""
with _bl as (
  select distinct {norm_d} as d from {blocklist_rel}
  where len({norm_d}) > 0
), _sufs as (
  select {url_col} as u, unnest({sufs}) as s from {corpus_rel}
)
select u as {url_col}, min(d) as matched_domain
from _sufs join _bl on s = d
group by u
"""


def blocklist_filtered_corpus(
    corpus: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """The corpus minus every blocklisted page.  Flagged urls broadcast
    for the anti join, so the corpus never shuffles."""
    flagged = blocklisted_urls(corpus, blocklist, url_col, domain_col)
    return corpus.join(
        F.broadcast(flagged.select(url_col)), on=url_col, how="left_anti"
    )


def blocklist_filtered_corpus_sql(
    corpus_rel: str,
    blocklist_rel: str,
    url_col: str = "url",
    domain_col: str = "domain",
) -> str:
    flagged = blocklisted_urls_sql(
        corpus_rel, blocklist_rel, url_col, domain_col
    )
    # `url is null or` mirrors the Spark anti join: a NULL key matches
    # nothing, so the row survives (bare NOT IN would drop it)
    return (
        f"select * from {corpus_rel} where {url_col} is null or "
        f"{url_col} not in (select {url_col} from ({flagged}))"
    )
