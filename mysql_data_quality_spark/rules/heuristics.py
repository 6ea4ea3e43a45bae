"""Gopher/C4-style heuristic quality rules as a declarative registry.

Mirrors the reference's rule-registry idea
(``/root/reference/src/data_quality/validators/base.py:77-106`` — rules are
named, parameterized, severity-tagged, individually enable-able) but each
rule compiles to a boolean **hit** Column over pre-computed feature columns,
so every enabled rule is evaluated in ONE scan (SURVEY.md §7.1).

Feature columns are built once — by the feature level of the rule plan
(:func:`feature_exprs`, :func:`with_features`) in Spark, by
:func:`features_sql` in the DuckDB oracle — from
:mod:`mysql_data_quality_spark.functions.text`,
:mod:`mysql_data_quality_spark.rules.langid`, and
:mod:`mysql_data_quality_spark.rules.perplexity`.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.core.types import Severity
from mysql_data_quality_spark.functions import text as T
from mysql_data_quality_spark.functions import c4
from mysql_data_quality_spark.rules import langid, perplexity, pii

# ---------------------------------------------------------------------------
# feature computation (shared intermediates, computed once per document)
# ---------------------------------------------------------------------------

FEATURE_COLS = (
    "n_words",
    "n_chars",
    "mean_word_len",
    "stop_count",
    "stop_fraction",
    "distinct_fraction",
    "symbol_ratio",
    "digit_fraction",
    "dup_line_fraction",
    "dup_paragraph_fraction",
    "dup_2gram_fraction",
    "c4_kept_line_fraction",
    "has_lorem_ipsum",
    "has_curly_brace",
    "det_lang",
    "avg_logp",
)


def token_exprs(text_col: str = "text") -> dict[str, Column]:
    """The token level of the rule plan: the ``_toks``/``_lines``/
    ``_paras`` arrays that :func:`feature_exprs` references."""
    t = F.col(text_col)
    return {
        "_toks": T.tokens_col(t),
        "_lines": T.lines_col(t),
        "_paras": T.paragraphs_col(t),
    }


def feature_exprs(text_col: str = "text") -> dict[str, Column]:
    """All feature expressions keyed by name, over the attribute
    references ``_toks``/``_lines``/``_paras`` of the token level.

    The token arrays MUST be materialized attributes: ~10 features
    reference the token array, higher-order functions evaluate
    interpreted (no whole-stage-codegen subexpression elimination), so
    an inlined tokenizer expression is re-split once per referencing
    feature — measured 4x slower over 600k docs.  The multi-referenced
    non-cheap ``_toks`` alias survives CollapseProject, so the split
    runs once per row.  Do NOT add a second derived token column (e.g.
    pre-lowered tokens): measured 2.5x slower, because each distinct
    derived tree is inlined and only exact-duplicate subtrees get
    CSE'd."""
    t, toks = F.col(text_col), F.col("_toks")
    lines, paras = F.col("_lines"), F.col("_paras")
    return {
        "n_words": T.n_words_col(toks),
        "n_chars": T.n_chars_col(t),
        "mean_word_len": T.mean_word_len_col(toks),
        "stop_count": T.stop_count_col(toks),
        "stop_fraction": T.stop_fraction_col(toks),
        "distinct_fraction": T.distinct_fraction_col(toks),
        "symbol_ratio": T.symbol_ratio_col(t, toks),
        "digit_fraction": T.digit_fraction_col(t),
        "dup_line_fraction": T.dup_line_fraction_col(t, lines),
        "dup_paragraph_fraction": T.dup_paragraph_fraction_col(t, paras),
        "dup_2gram_fraction": T.dup_ngram_fraction_col(toks, 2),
        "c4_kept_line_fraction": c4.c4_kept_line_fraction_col(t, lines),
        "has_lorem_ipsum": c4.lorem_ipsum_col(t),
        "has_curly_brace": c4.curly_brace_col(t),
        "det_lang": langid.detect_col(toks),
        "avg_logp": perplexity.avg_logprob_col(toks),
    }


def select_lists(in_cols: tuple, levels: tuple) -> list[list[Column]]:
    """One select list per level of generated columns (name -> Column
    dicts, each referring to the levels below by attribute name) over
    the input columns ``in_cols``, with ``withColumns`` semantics: an
    input column sharing a generated name (e.g. the documents table's
    own ``n_chars``, or a stale ``_toks``) is REPLACED in place, the
    other generated columns append.  The first level is scratch: the
    next level consumes its appended columns and does not carry them."""
    schema, out = list(in_cols), []
    for i, gen in enumerate(levels):
        gen = dict(gen)
        cols = [gen.pop(c).alias(c) if c in gen else F.col(c) for c in schema]
        cols += [c.alias(name) for name, c in gen.items()]
        if i:
            schema += list(gen)
        out.append(cols)
    return out


def with_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` + every feature column: the token and feature levels of
    the rule plan (:func:`select_lists` semantics; features append in
    ``FEATURE_COLS`` order)."""
    levels = (token_exprs(text_col), feature_exprs(text_col))
    for cols in select_lists(tuple(df.columns), levels):
        df = df.select(*cols)
    return df


def features_sql(text: str = "text") -> dict[str, str]:
    """DuckDB fragments for the same features (toks inlined per feature —
    the oracle runs at tiny scale, clarity over reuse)."""
    toks = T.tokens_sql(text)
    return {
        "n_words": T.n_words_sql(toks),
        "n_chars": T.n_chars_sql(text),
        "mean_word_len": T.mean_word_len_sql(toks),
        "stop_count": T.stop_count_sql(toks),
        "stop_fraction": T.stop_fraction_sql(toks),
        "distinct_fraction": T.distinct_fraction_sql(toks),
        "symbol_ratio": T.symbol_ratio_sql(text, toks),
        "digit_fraction": T.digit_fraction_sql(text),
        "dup_line_fraction": T.dup_line_fraction_sql(text),
        "dup_paragraph_fraction": T.dup_paragraph_fraction_sql(text),
        "dup_2gram_fraction": T.dup_ngram_fraction_sql(toks, 2),
        "c4_kept_line_fraction": c4.c4_kept_line_fraction_sql(text),
        "has_lorem_ipsum": c4.lorem_ipsum_sql(text),
        "has_curly_brace": c4.curly_brace_sql(text),
        "det_lang": langid.detect_sql(toks),
        "avg_logp": perplexity.avg_logprob_sql(toks),
    }


# ---------------------------------------------------------------------------
# rule registry
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class HRule:
    """One heuristic rule: hit when `feature` `op` `value` (or via custom
    spark/sql builders for non-threshold rules)."""

    name: str
    severity: Severity
    feature: str = ""
    op: str = ""
    value: float | int | str = 0
    enabled: bool = True

    def hit_col(self, claimed_lang_col: str = "lang") -> Column:
        """The hit over the materialized feature columns."""
        if self.name == "lang_mismatch":
            det = F.col("det_lang")
            return (det != F.lit(langid.UNDETERMINED)) & (
                F.col(claimed_lang_col) != det
            )
        if self.name == "mean_word_length":
            lo, hi = self.value  # type: ignore[misc]
            c = F.col(self.feature)
            return (c < F.lit(lo)) | (c > F.lit(hi))
        c = F.col(self.feature)
        return {
            "<": c < F.lit(self.value),
            ">": c > F.lit(self.value),
            "==": c == F.lit(self.value),
        }[self.op]

    def hit_sql(self, feats: dict[str, str], claimed_lang: str = "lang") -> str:
        if self.name == "lang_mismatch":
            d = feats["det_lang"]
            return f"(({d}) != '{langid.UNDETERMINED}' and {claimed_lang} != ({d}))"
        if self.name == "mean_word_length":
            lo, hi = self.value  # type: ignore[misc]
            f = feats[self.feature]
            return f"(({f}) < {lo!r} or ({f}) > {hi!r})"
        f = feats[self.feature]
        v = self.value if not isinstance(self.value, str) else f"'{self.value}'"
        return f"(({f}) {self.op} {v})"


#: default ruleset — thresholds pinned against the sf0.01 feature
#: distributions so every rule has a non-trivial hit rate (see tests).
DEFAULT_RULES: tuple[HRule, ...] = (
    HRule("min_words", Severity.ERROR, "n_words", "<", 12),
    HRule("max_words", Severity.ERROR, "n_words", ">", 100000),
    HRule("mean_word_length", Severity.ERROR, "mean_word_len", "range", (2.0, 10.0)),
    HRule("stopword_absent", Severity.ERROR, "stop_count", "<", 1),
    HRule("repetition", Severity.ERROR, "distinct_fraction", "<", 0.3),
    HRule("symbol_ratio", Severity.ERROR, "symbol_ratio", ">", 0.1),
    HRule("digit_fraction", Severity.WARNING, "digit_fraction", ">", 0.2),
    HRule("lang_undetected", Severity.ERROR, "det_lang", "==", langid.UNDETERMINED),
    HRule("lang_mismatch", Severity.WARNING),
    HRule("low_logprob", Severity.ERROR, "avg_logp", "<", -6.0),
    # Gopher duplicate-line repetition — shipped DISABLED so r1 decision
    # labels and golden snapshots stay byte-identical; enable via
    # DQS_RULE_LINE_REPETITION_ENABLED=true (core/config.py) or a custom
    # rules tuple.
    HRule("line_repetition", Severity.ERROR, "dup_line_fraction", ">", 0.3,
          enabled=False),
    # Gopher paragraph/n-gram repetition + C4 line/page rules — shipped
    # DISABLED for the same golden-stability reason; enable via
    # DQS_RULE_<NAME>_ENABLED=true or a custom rules tuple.
    HRule("paragraph_repetition", Severity.ERROR,
          "dup_paragraph_fraction", ">", 0.3, enabled=False),
    HRule("ngram_repetition", Severity.ERROR,
          "dup_2gram_fraction", ">", 0.5, enabled=False),
    HRule("c4_line_quality", Severity.ERROR,
          "c4_kept_line_fraction", "<", 0.3, enabled=False),
    HRule("c4_lorem_ipsum", Severity.ERROR,
          "has_lorem_ipsum", "==", True, enabled=False),
    HRule("c4_curly_brace", Severity.WARNING,
          "has_curly_brace", "==", True, enabled=False),
)

#: the FULL profile: every registered heuristic enabled — the
#: Gopher/C4 configuration a real training-data pipeline runs with
#: (line/paragraph/n-gram repetition + the C4 page rules DECIDE, not
#: just annotate).  DEFAULT_RULES stays the shipped default so round-1
#: golden labels remain byte-stable; ``--profile full`` / ``rules=
#: FULL_RULES`` opts into this set, which has its own golden decision
#: snapshot and oracle gate rows (r4 verdict "Next round #1").
FULL_RULES: tuple[HRule, ...] = tuple(
    replace(r, enabled=True) for r in DEFAULT_RULES
)

#: named rule profiles — the reference's "rule registry as the product"
#: surface (validators/base.py:77-106) with preset enable masks.
PROFILES: dict[str, tuple[HRule, ...]] = {
    "default": DEFAULT_RULES,
    "full": FULL_RULES,
}


def profile_rules(name: str) -> tuple[HRule, ...]:
    """Rules for a named profile; unknown names raise (a typo'd profile
    must not silently run the default pipeline — same contract as the
    DQS_RULE_ env overrides)."""
    try:
        return PROFILES[name]
    except KeyError:
        raise ValueError(
            f"unknown rule profile {name!r}; profiles: {sorted(PROFILES)}"
        ) from None


#: PII/toxicity rules (regex find-anywhere; blocklist drops, PII annotates
#: and is scrubbed).  Severity model per SURVEY.md §7.1.
PII_RULES: tuple[tuple[str, Severity], ...] = (
    ("pii_email", Severity.INFO),
    ("pii_ipv4", Severity.INFO),
    ("pii_phone", Severity.INFO),
    ("toxicity_blocklist", Severity.CRITICAL),
)


def all_rule_severities(
    rules: tuple[HRule, ...] | None = None,
) -> dict[str, Severity]:
    out = {r.name: r.severity for r in (rules or DEFAULT_RULES) if r.enabled}
    out.update(dict(PII_RULES))
    return out


def hit_cols(
    text_col: str = "text",
    claimed_lang: str = "lang",
    rules: tuple[HRule, ...] | None = None,
) -> dict[str, Column]:
    """All rule-hit Columns over the materialized feature columns (the
    hit level of the rule plan).  ``rules`` overrides the default
    registry — the reference's parameterized-rule surface
    (ValidationRule.parameters)."""
    hits: dict[str, Column] = {
        r.name: r.hit_col(claimed_lang)
        for r in (rules or DEFAULT_RULES)
        if r.enabled
    }
    for key, _sev in PII_RULES:
        hits[key] = pii.hit_col(F.col(text_col), key)
    return hits


def hit_sqls(
    text: str = "text",
    claimed_lang: str = "lang",
    rules: tuple[HRule, ...] | None = None,
) -> dict[str, str]:
    feats = features_sql(text)
    hits = {
        r.name: r.hit_sql(feats, claimed_lang)
        for r in (rules or DEFAULT_RULES)
        if r.enabled
    }
    for key, _sev in PII_RULES:
        hits[key] = pii.hit_sql(text, key)
    return hits
