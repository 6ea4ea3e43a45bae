"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language distribution, document fingerprinting.

Thin compositions over the rule-engine feature expressions
(:mod:`mysql_data_quality_spark.functions.text`,
:mod:`mysql_data_quality_spark.rules.langid`) — same single-scan design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.functions import text as T
from mysql_data_quality_spark.operators.dedup import (
    normalized_text_col,
    normalized_text_sql,
)
from mysql_data_quality_spark.rules import langid

#: BPE-ish subword token estimate: word-chunks plus digit runs plus
#: punctuation, the common cheap proxy for tokenizer counts.
# explicit whitespace class — \s differs between Java regex and RE2
BPE_ISH_RE = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\x0B\f\r]"


def whitespace_token_count_col(text: Column) -> Column:
    return T.n_words_col(T.tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """Count of BPE-ish subword units via regexp_count (JVM regex, one pass)."""
    return F.regexp_count(F.coalesce(text, F.lit("")), F.lit(BPE_ISH_RE)).cast(
        "bigint"
    )


def bpe_ish_token_count_sql(text: str) -> str:
    return (
        f"cast(len(regexp_extract_all(coalesce({text}, ''), "
        f"'{BPE_ISH_RE}')) as bigint)"
    )


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text (md5 is
    identical across Spark/DuckDB, so the oracle can verify it)."""
    return F.md5(normalized_text_col(text))


def fingerprint_sql(text: str) -> str:
    return f"md5({normalized_text_sql(text)})"


def quality_score_col(
    stop_fraction: Column, distinct_fraction: Column, mean_word_len: Column
) -> Column:
    """Composite 0-1 quality score: rescaled blend of stopword density,
    lexical diversity, and mean-word-length proximity to English norms.
    Fixed operation order for oracle parity."""
    mwl_term = F.lit(1.0) - F.least(
        F.abs(mean_word_len - F.lit(5.0)) / F.lit(5.0), F.lit(1.0)
    )
    raw = (
        F.least(stop_fraction * F.lit(5.0), F.lit(1.0))
        + distinct_fraction
        + mwl_term
    ) / F.lit(3.0)
    return raw


def quality_score_sql(
    stop_fraction: str, distinct_fraction: str, mean_word_len: str
) -> str:
    mwl_term = f"(1.0 - least(abs(({mean_word_len}) - 5.0) / 5.0, 1.0))"
    return (
        f"((least(({stop_fraction}) * 5.0, 1.0) + ({distinct_fraction}) + "
        f"{mwl_term}) / 3.0)"
    )


def language_distribution(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detected-language histogram over a corpus (one scan + tiny shuffle)."""
    toks = T.tokens_col(F.col(text_col))
    return (
        df.select(langid.detect_col(toks).alias("det_lang"))
        .groupBy("det_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Gopher top-n-gram repetition (distributed operator, not a per-row expr:
# per-document mode needs a frequency table, which the explode+agg shape
# gets with map-side partial aggregation — O(d²) per-row array scans would
# blow up on pathological 50k-token documents)
# ---------------------------------------------------------------------------
def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """(doc_id, n_grams, top_count, top_fraction): how dominant the most
    frequent word n-gram is — the Gopher top-ngram repetition signal.

    Plan: grams per doc (one projection) → explode → count per (doc, gram)
    → max/sum per doc.  Both aggregations combine map-side; the shuffle
    key is (doc_id, xxhash-sized gram strings).  Docs with < n tokens are
    absent from the output (no grams → no repetition signal).
    """
    # tokens materialized as their own projection column: the gram
    # transform's lambda slices the token array per element, and an
    # inlined tokenizer expression would re-split the text once per
    # gram (the O(tokens²) HOF trap — see dedup._shingles)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        T.tokens_col(F.lower(F.col(text_col))).alias("_tg_toks"),
    )
    toks = F.col("_tg_toks")
    nt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(nt - n, F.lit(0)))
    grams = F.when(
        nt >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer + isNotNull: avoids the inferred size()>0 filter
    # that would re-evaluate the gram build per row below the Generate
    # (gram strings are never null — row-identical)
    ex = base.select(
        "doc_id", F.explode_outer(grams).alias("gram")
    ).where(F.col("gram").isNotNull())
    per_gram = ex.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.max("cnt").alias("top_count"),
        )
        .withColumn(
            "top_fraction",
            F.col("top_count").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def top_ngram_stats_sql(
    docs_rel: str, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> str:
    toks = T.tokens_sql(f"lower({text_col})")
    return f"""
with ex as (
  select {id_col} as doc_id,
         unnest(case when len({toks}) >= {n} then
           [array_to_string({toks}[i:i+{n - 1}], ' ')
            for i in range(1, len({toks}) - {n} + 2)]
         else [] end) as gram
  from {docs_rel}
), per_gram as (
  select doc_id, gram, count(*) as cnt from ex group by 1, 2
)
select doc_id, cast(sum(cnt) as bigint) as n_grams,
       cast(max(cnt) as bigint) as top_count,
       cast(max(cnt) as double) / cast(sum(cnt) as double) as top_fraction
from per_gram group by doc_id
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS algorithm):
# char k-gram rolling hashes -> minimum per sliding window -> distinct set.
# Guarantees: any match of length >= w + k - 1 between two documents shares
# at least one selected fingerprint, and identical documents select
# identical sets — the local-fingerprinting property plain md5/minhash
# doesn't give (md5 breaks on 1-char edits; minhash is global).
# ---------------------------------------------------------------------------
def _grams_from_norm(norm: Column, k: int, hasher=None) -> Column:
    """array<bigint>: one hash per k-char gram of an ALREADY-normalized
    text column.  ``norm`` should be an attribute reference (a column
    materialized by a previous projection) when used at DataFrame scale:
    the transform lambda re-evaluates its body per element, so an inlined
    normalization expression would re-run its regex once per gram."""
    hasher = hasher or F.xxhash64
    n = F.length(norm)
    # NB: F.sequence(1, stop) counts DOWN when stop < 1, so gate on n >= k
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: hasher(norm.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _winnowing_grams_col(text: Column, k: int, hasher=None) -> Column:
    """array<bigint>: one hash per k-char gram of the normalized text
    (default xxhash64; the md5 oracle variant passes a cross-engine
    hasher).  Whitespace is collapsed and case folded first so
    formatting edits don't shift every gram."""
    from mysql_data_quality_spark.operators.dedup import normalized_text_col

    return _grams_from_norm(normalized_text_col(text), k, hasher)


def _winnowing_mins_col(grams: Column, w: int) -> Column:
    """Window minima over an ALREADY-MATERIALIZED grams column.

    ``grams`` MUST be an attribute reference (a column computed by a
    previous projection), never the gram-building expression itself: a
    higher-order-function lambda re-evaluates every subexpression of its
    body PER ELEMENT, so inlining the gram builder here turns O(n·w)
    window minima into O(n²·k) re-hashing.  :func:`winnowing_fingerprints`
    calls it over the ``_wf_g`` column of its gram projection, which
    every lambda references several times, so CollapseProject keeps that
    projection separate and the minima slice an attribute, O(n·w) per
    document.  :func:`winnowing_fingerprints_col`, the single-expression
    spec, passes the gram expression itself and pays the O(n²·k) cost.
    """
    n_grams = F.size(grams)
    mins = F.when(
        n_grams >= w,
        F.transform(
            F.sequence(F.lit(1), n_grams - w + 1),
            lambda j: F.array_min(F.slice(grams, j, w)),
        ),
    ).otherwise(  # short docs: single window over whatever grams exist
        F.when(n_grams > 0, F.array(F.array_min(grams))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return F.array_sort(F.array_distinct(mins))


def winnowing_fingerprints_col(
    text: Column, k: int = 5, w: int = 4
) -> Column:
    """array<bigint>: sorted distinct window-minimum k-gram hashes as ONE
    Column expression.

    .. warning:: single-expression form = the gram builder sits inside
       the window lambda and is re-evaluated per window (O(n²·k) —
       487s for 500 sf0.01 docs).  Fine for short strings / tests; for
       DataFrame-scale work ALWAYS use :func:`winnowing_fingerprints`
       (stacked-projection plan, bit-identical).
    """
    return _winnowing_mins_col(_winnowing_grams_col(text, k), w)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """(doc_id, fingerprints: array<bigint>) per document — bit-identical
    to :func:`winnowing_fingerprints_col` but computed as three stacked
    projections instead of one nested expression.

    Why not one expression: a higher-order-function lambda re-evaluates
    its body per element, and Catalyst inlines single-use aliases, so
    the naive single-expression form re-ran the normalization + gram
    build inside the window lambda — O(n²·k) per document (measured:
    487s for 500 sf0.01 docs).  The r4-r6 fix exploded grams to rows
    and used ``min() OVER`` (2.1s at sf0.01) — correct, but it paid TWO
    exchanges (a text-carrying pre-groupBy + the gram-row shuffle), a
    sort, a window, and a collect_list re-assembly for what is a purely
    per-document computation.

    r7 shape: three STACKED PROJECTIONS — normalize, gram-hash, window
    minima — each stage materialized as its own column.  Every stage's
    column is referenced several times by the next stage's expression,
    so CollapseProject keeps the projections separate (its
    multi-reference non-cheap-alias rule) and each stage evaluates once
    per row; the window minima are ``array_min`` over slices of the
    materialized gram ATTRIBUTE, O(n·w) per document.  ZERO exchanges —
    the operator is now a pure map (plan: Scan → Project×3, no
    Exchange) — measured 19.3/18.9s → 5.4/3.1s cold/warm at sf0.1
    (isolated A/B, 5k docs, k=5/w=4), bit-identical output including
    empty/short-document edge cases (pinned by the vector + oracle
    tests).  Duplicate (id, text) rows each produce their own identical
    output row, exactly like the exploded form's multiplicity
    re-expansion did.

    ``gram_hash``: ``"xxhash64"`` (production default) or ``"md5_60bit"``
    (cross-engine hash, DuckDB-replayable — the gate's
    ``winnowing_fingerprints_md5`` oracle variant; see
    :func:`winnowing_fingerprints_md5_sql`)."""
    from mysql_data_quality_spark.operators.dedup import normalized_text_col

    if gram_hash == "xxhash64":
        hasher = None
    elif gram_hash == "md5_60bit":
        from mysql_data_quality_spark.operators.dedup import md5_int60_col

        hasher = md5_int60_col
    else:
        raise ValueError(f"gram_hash must be xxhash64|md5_60bit: {gram_hash!r}")

    hasher = hasher or F.xxhash64
    norm_df = df.select(
        F.col(id_col).alias("doc_id"),
        normalized_text_col(F.col(text_col)).alias("_wf_norm"),
    )
    # Characters materialized as an ARRAY before gram building:
    # ``substr(norm, i, k)`` must seek the i-th character with a linear
    # UTF-8 scan, so n substr calls over one string are O(n²) per
    # document — measured 143s for 5k docs of ~3000 chars (every
    # winnowing shape since r4 had this, masked by the short bench
    # texts).  Slicing a char array is O(k) per gram; the rebuilt gram
    # string is character-identical to the substr, so both hash
    # families produce identical fingerprints (oracle re-verified).
    chars_df = norm_df.select(
        "doc_id",
        F.length("_wf_norm").alias("_wf_n"),
        F.split(F.col("_wf_norm"), "").alias("_wf_c"),
    )
    n = F.col("_wf_n")
    chars = F.col("_wf_c")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: hasher(F.array_join(F.slice(chars, i, k), "")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams_df = chars_df.select("doc_id", grams.alias("_wf_g"))
    return grams_df.select(
        "doc_id",
        _winnowing_mins_col(F.col("_wf_g"), w).alias("fingerprints"),
    )


def _winnowing_fps_cte_sql(
    docs_rel: str, id_col: str, text_col: str, k: int, w: int
) -> str:
    """Shared CTE block (nm → gr → fps) replaying the winnowing-md5
    selection in DuckDB — the ONE definition both md5 oracle builders
    append their projection/join to, so the algorithm cannot drift
    between gate entries (r5 review)."""
    from mysql_data_quality_spark.operators.dedup import (
        md5_int60_sql,
        normalized_text_sql,
    )

    norm = normalized_text_sql(text_col)
    gram = md5_int60_sql(f"substr(norm, i, {k})")
    return f"""nm as (
  select {id_col} as doc_id, {norm} as norm from {docs_rel}
), gr as (
  select doc_id,
         case when len(norm) >= {k} then
           [{gram} for i in range(1, len(norm) - {k} + 2)]
         else [] end as grams
  from nm
), fps as (
  select doc_id,
         case when len(grams) >= {w} then
           list_sort(list_distinct(
             [list_min(grams[j:j+{w - 1}]) for j in range(1, len(grams) - {w} + 2)]
           ))
         when len(grams) > 0 then [list_min(grams)]
         else [] end as fingerprints
  from gr
)"""


def winnowing_fingerprints_md5_sql(
    docs_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> str:
    """DuckDB twin of ``winnowing_fingerprints(..., gram_hash=
    "md5_60bit")``: identical normalization, identical gram hashes
    (cross-engine md5-derived 60-bit ints), identical window-minimum
    selection — the winnowing ALGORITHM under hash compare (the
    production xxhash64 path stays rows-only).  Emits the flattened
    projection (n_fingerprints, min, comma-joined list) because the
    driver's hash compare cannot canonicalize list cells.

    Assumes unique ``id_col`` in ``docs_rel`` (true for the gate's
    documents table); the Spark side needs no such assumption."""
    return f"""
with {_winnowing_fps_cte_sql(docs_rel, id_col, text_col, k, w)}
select doc_id,
       cast(len(fingerprints) as bigint) as n_fingerprints,
       fingerprints[1] as min_fingerprint,
       coalesce(array_to_string(fingerprints, ','), '') as fps
from fps
"""


def fingerprint_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fingerprint_df: int | None = 1000,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """(doc_a, doc_b, shared_fingerprints): document pairs sharing at
    least ``min_shared`` winnowing fingerprints — cross-document repeated
    SUBSTRING detection (the practical Spark shape of suffix-array
    training-data dedup: winnowing guarantees any shared run of
    ``k + w - 1`` normalized chars shares a fingerprint, so documents
    with substantial copied passages collide here even when their full
    texts are nothing alike — the case text-level exact/MinHash dedup
    misses).

    Plan shape (the near-dup discipline): explode to (fingerprint,
    doc_id) pairs — ids only, text never rides the join — self-join per
    fingerprint, count shared prints per pair.  ``max_fingerprint_df``
    drops fingerprints appearing in more than that many documents
    (boilerplate runs shared by half the crawl would otherwise square
    into the pair list — same hot-key cap as the shingle/minhash path,
    via a groupBy + broadcast anti join).

    Cache lifetime: the exploded fingerprint frame is persisted
    (MEMORY_AND_DISK) because it feeds three plan arms, and the CALLER
    owns releasing it — the returned (lazy) DataFrame exposes the
    handle as ``._persisted_prints``; call
    ``result._persisted_prints.unpersist()`` once the pair list is
    materialized (r4 ADVICE: a long-lived driver looping this function
    would otherwise accumulate cached blocks for the session lifetime).
    """
    from pyspark import StorageLevel

    # explode_OUTER + isNotNull, not a plain explode: Catalyst's
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` below a
    # non-outer explode, substituting the WHOLE winnowing expression into
    # a Filter where the window-minima lambda re-evaluates the gram
    # builder per element — the O(n²·k) re-inlining trap, measured as a
    # multi-minute single-task straggler at sf0.1.  An outer generate
    # infers no filter; the null rows of fingerprint-less docs are
    # dropped by a cheap filter on the GENERATED attribute instead
    # (fingerprint hashes are never null, so the row sets are identical).
    prints = (
        winnowing_fingerprints(df, id_col, text_col, k, w, gram_hash)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    # prints feeds three arms (hot-fp count + both join sides) — persist
    # so the winnowing window/shuffle runs once, same precedent as
    # shingle_jaccard_pairs' exploded-shingle persist
    prints = prints.persist(StorageLevel.MEMORY_AND_DISK)
    if max_fingerprint_df is not None:
        hot = (
            prints.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_fingerprint_df)
            .select("fp")
        )
        prints = prints.join(F.broadcast(hot), on="fp", how="left_anti")
    a = prints.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = prints.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    out = (
        a.join(b, on="fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )
    # caller-owned cache handle (see docstring)
    out._persisted_prints = prints
    return out


def fingerprint_duplicate_pairs_md5_sql(
    docs_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
) -> str:
    """DuckDB twin of ``fingerprint_duplicate_pairs(...,
    gram_hash="md5_60bit", max_fingerprint_df=None)``: the winnowing-md5
    fingerprints (same selection algorithm, shared CTE —
    :func:`_winnowing_fps_cte_sql`) exploded and self-joined — the
    substring-level near-dup PAIR logic under hash compare.  No
    hot-fingerprint cap (the oracle is the exact form, like the other
    tiny-scale oracles)."""
    return f"""
with {_winnowing_fps_cte_sql(docs_rel, id_col, text_col, k, w)}, ex as (
  select doc_id, unnest(fingerprints) as fp from fps
)
select a.doc_id as doc_a, b.doc_id as doc_b,
       count(*) as shared_fingerprints
from ex a join ex b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
having count(*) >= {min_shared}
"""


def token_length_histogram(
    df: DataFrame,
    text_col: str = "text",
    bounds: tuple = (0, 100, 1000, 10000),
) -> DataFrame:
    """(bucket, n_docs, total_tokens): whitespace-token-count histogram
    over fixed bucket bounds — the corpus-budgeting view a training run
    starts from (how many docs/tokens land in each length band).
    Fixed integer bucket edges keep it oracle-exact (quantile sketches
    are engine-specific); one map-side-combining aggregation.  Tokenizer
    is the shared WS class (functions.text) — Java's ``\\s`` and RE2's
    ``\\s`` disagree on vertical tab, so the raw regex would break
    parity."""
    from mysql_data_quality_spark.functions.text import tokens_col

    n = F.size(tokens_col(F.col(text_col)))
    bucket = F.lit(f">={bounds[-1]}")
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        bucket = F.when(
            (n >= lo) & (n < hi), F.lit(f"{lo}-{hi}")
        ).otherwise(bucket)
    return (
        df.select(bucket.alias("bucket"), n.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
        )
    )


def token_length_histogram_sql(
    rel: str, text_col: str = "text", bounds: tuple = (0, 100, 1000, 10000)
) -> str:
    from mysql_data_quality_spark.functions.text import tokens_sql

    n = f"len({tokens_sql(text_col)})"
    case = f"'>={bounds[-1]}'"
    whens = "".join(
        f"when {n} >= {lo} and {n} < {hi} then '{lo}-{hi}' "
        for lo, hi in zip(bounds[:-1], bounds[1:])
    )
    return f"""
select case {whens}else {case} end as bucket,
       count(*) as n_docs,
       cast(sum({n}) as bigint) as total_tokens
from {rel}
group by 1
"""
