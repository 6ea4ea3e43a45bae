"""Corpus-wide paragraph-level deduplication — the CCNet / RefinedWeb
stage between exact-document dedup and fuzzy near-dup: boilerplate
paragraphs (nav chrome, cookie banners, license blurbs) repeat across
millions of pages while the surrounding documents stay distinct, so
document-granularity dedup never touches them.  Each distinct paragraph
survives exactly once corpus-wide (first occurrence in (doc_id, pos)
order); every later instance is cut out of its document and the document
is rebuilt from its surviving paragraphs.

Scale shape (same discipline as :mod:`operators.dedup` /
:mod:`operators.decontaminate` — the text never rides a shuffle):

* paragraphs are HASHED at the explode (xxhash64), so the
  winner-election groupBy and the instance/winner join exchange
  (id, pos, 8-byte hash) rows, never paragraph text;
* winner election is a map-side-combining ``min(struct(id, pos))`` —
  a paragraph repeated 10^9 times (hot boilerplate) partial-aggregates
  inside every map task, so the hot key cannot pin a reducer (the same
  reasoning as :func:`operators.skew.domain_stats`); the instance→winner
  probe join IS hot-keyed on that hash, which AQE skew-join splitting
  handles (winners are 1 row per duplicated hash);
* per-document drop lists (id → sorted positions) are near-dup-sized
  (only documents that LOSE a paragraph appear), so the rebuild join
  broadcasts them by default and the corpus never shuffles — documents
  with no dropped paragraph pass through BYTE-IDENTICAL (no reformat);
  rebuilt documents re-join their kept paragraphs with a blank line;
* a 64-bit hash collision can only cut an extra paragraph (the
  conservative direction for dedup) with per-pair probability 2^-64 —
  the same adjudication as the decontamination gram hashing.  The DuckDB
  twin partitions on the paragraph strings themselves, so tiny-scale
  parity also guards the hash path (exact-parity-tested).

Paragraph units are :func:`functions.text.paragraphs_col` (trimmed,
non-empty, blank-line-separated) — ONE structural definition shared with
the Gopher repetition features.  ``casefold=True`` matches paragraphs
case-insensitively (CCNet-style normalization) while rebuilding with the
original casing of the surviving instance.

Reference analogue: the duplicate-VALUE detector
(``/root/reference/src/data_quality/validators/duplicates.py``) counts
repeated values within one table; this is its corpus-rewrite
generalization one structural level down (paragraphs), the shape CCNet
(Wenzek et al. 2020) runs before perplexity filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.functions.text import (
    paragraphs_col,
    paragraphs_sql,
)

_SEP = "\n\n"


def paragraph_drop_lists(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    casefold: bool = False,
) -> DataFrame:
    """(id, drop_pos) per document that loses at least one paragraph:
    the sorted 0-based positions (within the trimmed-paragraph array) of
    every paragraph instance that is NOT the corpus-wide first occurrence
    of its content.  All exchanges carry (id, pos, hash) only."""
    par = F.col("_pd_par")
    key = F.lower(par) if casefold else par
    # posexplode_OUTER + isNotNull: a plain posexplode makes Catalyst
    # infer a size()>0 filter that re-evaluates the whole paragraph
    # split per row below the Generate; paragraph strings are never
    # null (trimmed non-empty), so filtering the generated attribute is
    # row-identical.
    inst = (
        corpus.select(
            F.col(id_col).alias("_pd_id"),
            F.posexplode_outer(paragraphs_col(F.col(text_col))).alias(
                "_pd_pos", "_pd_par"
            ),
        )
        .where(F.col("_pd_par").isNotNull())
        .select("_pd_id", "_pd_pos", F.xxhash64(key).alias("_pd_h"))
    )
    # Map-side-combining winner election; unique paragraphs (the vast
    # majority) are filtered out before the probe join.
    winners = (
        inst.groupBy("_pd_h")
        .agg(
            F.min(F.struct("_pd_id", "_pd_pos")).alias("_pd_w"),
            F.count(F.lit(1)).alias("_pd_n"),
        )
        .where(F.col("_pd_n") > 1)
        .select("_pd_h", "_pd_w")
    )
    drops = (
        inst.join(winners, on="_pd_h")
        .where(
            (F.col("_pd_id") != F.col("_pd_w._pd_id"))
            | (F.col("_pd_pos") != F.col("_pd_w._pd_pos"))
        )
        .select("_pd_id", "_pd_pos")
    )
    return drops.groupBy("_pd_id").agg(
        F.sort_array(F.collect_list("_pd_pos")).alias("_pd_drops")
    )


def paragraph_dedup_corpus(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    casefold: bool = False,
    drop_empty: bool = False,
) -> DataFrame:
    """The corpus with every non-first paragraph instance removed,
    keeping all other columns.  Documents that lose nothing pass through
    byte-identical; documents that lose paragraphs are rebuilt as their
    kept (trimmed) paragraphs joined by a blank line; ``drop_empty``
    removes documents whose every paragraph was cut.  The per-document
    drop lists broadcast, so the corpus never shuffles."""
    drops = paragraph_drop_lists(corpus, id_col, text_col, casefold)
    drops = drops.withColumnRenamed("_pd_id", id_col)
    joined = corpus.join(F.broadcast(drops), on=id_col, how="left")
    paras = paragraphs_col(F.col(text_col))
    kept = F.filter(
        paras,
        lambda p, i: ~F.array_contains(F.col("_pd_drops"), i),
    )
    rebuilt = F.when(
        F.col("_pd_drops").isNull(), F.col(text_col)
    ).otherwise(F.array_join(kept, _SEP))
    out = joined.withColumn(text_col, rebuilt).drop("_pd_drops")
    if drop_empty:
        out = out.where(
            F.col(text_col).isNotNull() & (F.length(text_col) > 0)
        )
    return out


def paragraph_dedup_corpus_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    casefold: bool = False,
    drop_empty: bool = False,
) -> str:
    """DuckDB twin: identical keep set and rebuilt text, computed on the
    paragraph strings themselves (window first-occurrence election), so
    tiny-scale parity also cross-checks the Spark side's hash keys."""
    paras = paragraphs_sql(text_col)
    key = "lower(par)" if casefold else "par"
    empty_guard = (
        f"where {text_col} is not null and len({text_col}) > 0"
        if drop_empty
        else ""
    )
    return f"""
with _pd_inst as (
  select {id_col} as did, unnest(range(1, len({paras}) + 1)) as i,
         {paras} as ps
  from {rel}
), _pd_ranked as (
  select did, i - 1 as pos, ps[i] as par,
         row_number() over (
           partition by {key} order by did, i) as rn
  from _pd_inst
), _pd_counts as (
  select did, count(*) as n from _pd_ranked group by did
), _pd_keeps as (
  select did, list(par order by pos) as kept
  from _pd_ranked where rn = 1 group by did
)
select * from (
  select p.* replace (
    case when c.n is null or coalesce(len(k.kept), 0) = c.n
         then p.{text_col}
         else coalesce(
           array_to_string(k.kept, chr(10) || chr(10)), '') end
    as {text_col})
  from {rel} p
  left join _pd_counts c on p.{id_col} = c.did
  left join _pd_keeps k on p.{id_col} = k.did
) {empty_guard}
"""
