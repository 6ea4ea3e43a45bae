"""Unicode script detection — per-document script composition and the
dominant script, as pure Column regex math (no Python, no UDF).

Why a quality engine needs it: webtext spam spoofs scripts (Cyrillic
'а' inside Latin words to dodge wordlists), CJK/Latin mixes break
whitespace tokenization assumptions, and multilingual corpus curation
buckets by script before language.  fastText-style langid gives a
language; this gives the orthographic evidence, cheap enough to run on
every document.

Implementation: one ``length(regexp_replace(...))`` per script class —
run-quantified character classes (``[...]+`` — measured 3x faster than
per-char classes for count-by-removal) over Unicode script properties.
Java regex spells them ``\\p{IsLatin}``, RE2 (DuckDB) ``\\p{Latin}``;
both implement the same Unicode script data, so the twins agree
byte-for-byte (vector-tested, incl. the Cyrillic-spoof case).

Dominant script = argmax over the counted scripts with a FIXED priority
order for ties (both engines evaluate the same chained CASE, so the
tie-break is part of the cross-engine contract); '' (empty/NULL text or
no letters of any tracked script) → 'none'.

Scale: pure map over the scan, whole-stage codegen, zero shuffles; the
distribution rollup is one map-side-combining groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tracked scripts, in TIE-BREAK PRIORITY order (first wins on equal
#: counts).  Name → (Java property, RE2 property).
SCRIPTS: tuple[tuple[str, str, str], ...] = (
    ("latin", "IsLatin", "Latin"),
    ("cyrillic", "IsCyrillic", "Cyrillic"),
    ("greek", "IsGreek", "Greek"),
    ("arabic", "IsArabic", "Arabic"),
    ("hebrew", "IsHebrew", "Hebrew"),
    ("devanagari", "IsDevanagari", "Devanagari"),
    ("han", "IsHan", "Han"),
    ("hiragana", "IsHiragana", "Hiragana"),
    ("katakana", "IsKatakana", "Katakana"),
    ("hangul", "IsHangul", "Hangul"),
)


def script_char_count_col(text: Column, script: str) -> Column:
    """Count of characters of ``script`` (priority-list name) in text.

    Every tracked script except Latin lies entirely outside ASCII, so a
    document whose UTF-8 byte length equals its character count (pure
    ASCII — two cheap length scans, no regex) provably contains zero
    such characters: the 9 non-Latin regex passes short-circuit on
    ASCII-only text, which is the common case in Latin-dominant crawls.
    Identical counts (vector-pinned incl. the Cyrillic-spoof case)."""
    java_prop = {name: jp for name, jp, _ in SCRIPTS}[script]
    t = F.coalesce(text, F.lit(""))
    counted = (
        F.length(t)
        - F.length(
            F.regexp_replace(t, f"[\\p{{{java_prop}}}]+", "")
        )
    ).cast("bigint")
    if script == "latin":
        return counted
    return F.when(
        F.octet_length(t) == F.length(t), F.lit(0).cast("bigint")
    ).otherwise(counted)


def script_char_count_sql(text: str, script: str) -> str:
    re2_prop = {name: rp for name, _, rp in SCRIPTS}[script]
    t = f"coalesce({text}, '')"
    return (
        f"cast(length({t}) - length(regexp_replace({t}, "
        f"'[\\p{{{re2_prop}}}]+', '', 'g')) as bigint)"
    )


def with_script_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """df + ``script_<name>_chars`` per tracked script +
    ``script_letter_chars`` (their sum) + ``dominant_script``
    ('none' when no tracked-script character occurs)."""
    t = F.col(text_col)
    out = df
    for name, _, _ in SCRIPTS:
        out = out.withColumn(
            f"script_{name}_chars", script_char_count_col(t, name)
        )
    total = None
    for name, _, _ in SCRIPTS:
        c = F.col(f"script_{name}_chars")
        total = c if total is None else total + c
    out = out.withColumn("script_letter_chars", total)
    # chained CASE in priority order: first script whose count equals
    # the (positive) running max of all counts wins — identical CASE in
    # the SQL twin, so ties resolve the same everywhere
    mx = F.greatest(
        *[F.col(f"script_{name}_chars") for name, _, _ in SCRIPTS]
    )
    dom = F.lit("none")
    for name, _, _ in reversed(SCRIPTS):
        dom = F.when(
            (F.col(f"script_{name}_chars") == mx) & (mx > 0), F.lit(name)
        ).otherwise(dom)
    return out.withColumn("dominant_script", dom)


def script_features_sql(rel: str, text_col: str = "text") -> str:
    """DuckDB twin of :func:`with_script_features` (same column names,
    same chained-CASE tie-break)."""
    counts = ", ".join(
        f"{script_char_count_sql(text_col, name)} as script_{name}_chars"
        for name, _, _ in SCRIPTS
    )
    total = " + ".join(f"script_{name}_chars" for name, _, _ in SCRIPTS)
    mx = "greatest(" + ", ".join(
        f"script_{name}_chars" for name, _, _ in SCRIPTS
    ) + ")"
    whens = " ".join(
        f"when script_{name}_chars = {mx} and {mx} > 0 then '{name}'"
        for name, _, _ in SCRIPTS
    )
    return f"""
select *, {total} as script_letter_chars,
       case {whens} else 'none' end as dominant_script
from (select *, {counts} from {rel})
"""


def script_distribution(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(dominant_script, n_docs, total_chars) — the corpus-curation
    rollup; map-side-combining groupBy."""
    feat = with_script_features(df, text_col)
    return feat.groupBy("dominant_script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.length(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("total_chars"),
    )
