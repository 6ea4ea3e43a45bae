"""KenLM-style language-model scoring, reduced to a deterministic in-repo
unigram word model (no external model downloads, per BASELINE.json).

Score = mean log-probability per token under a pinned word->logprob table;
``perplexity = exp(-score)``.  The drop rule thresholds on the **mean
log-probability** (a pure div of sums — bit-exact across engines) rather
than on the exp'd perplexity, so the keep/drop decision can never flip on a
last-ulp libm difference between the JVM, numpy, and DuckDB.

Three equivalent implementations (tests assert equality):
  * :func:`avg_logprob_col`  — Column expressions via ``F.aggregate``
  * :func:`avg_logprob_sql`  — DuckDB fragment (correctness oracle)
  * :func:`avg_logprob_pandas_udf` — Arrow-batched pandas UDF (production
    surface; sequential per-token accumulation so the sum order matches the
    other two paths exactly)

Reference analogue: the custom-validator hook
(``/root/reference/src/data_quality/validators/patterns.py:221-224``),
batched instead of per-row.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Pinned unigram table: ~log(1/64) for listed words — a flat model over a
# small embedded lexicon of common English + domain words; OOV ~ log(1e-6).
#
# The values are QUANTIZED TO MULTIPLES OF 1/32 (dyadic rationals, exactly
# representable in float64 with 5 fractional mantissa bits).  Sums of such
# values are EXACT in IEEE double for any realistic document length, so the
# mean log-prob is bit-identical regardless of summation order — across
# Spark partitionings, cluster sizes, numpy pairwise summation, and the
# DuckDB oracle.  This is what makes the perplexity rule's keep/drop
# decision deterministic at any scale (north-rule byte-identity).
_IN_VOCAB_LOGP = -133.0 / 32.0  # -4.15625  ~ log(1/64)
OOV_LOGP = -442.0 / 32.0  # -13.8125 ~ log(1e-6)
EMPTY_DOC_LOGP = OOV_LOGP  # an empty document scores like pure noise

# Order matters for speed only (array_contains early-exits, so the most
# frequent words go first); membership semantics are order-independent.
VOCAB: tuple[str, ...] = (
    # common domain words (data/infra vocabulary — dominant in web corpora
    # of this shape)
    "data", "table", "row", "column", "value", "key", "query", "join",
    "filter", "sort", "order", "group", "merge", "hash", "scan", "batch",
    "stream", "window", "vector", "agg", "line", "part", "customer", "spark",
    "small", "big", "fast", "slow", "dup", "count", "sum", "index",
    # function words
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "that", "with",
    "for", "on", "as", "at", "be", "this", "by", "are", "was", "from", "or",
    "has", "have", "not", "but", "can", "will", "all", "we", "you", "they",
)
LOGP: dict[str, float] = {w: _IN_VOCAB_LOGP for w in VOCAB}


def avg_logprob_col(toks: Column, lowered: bool = False) -> Column:
    """Mean token log-probability (double); EMPTY_DOC_LOGP for empty docs.

    Computed as ``(n_iv*IN + (n-n_iv)*OOV) / n`` where n_iv = in-vocab
    token count — ONE filter pass instead of a per-token fold.  Because the
    two log-probs are dyadic rationals, this closed form is bit-identical
    to the sequential per-token summation used by the SQL oracle and the
    pandas UDF (integer-times-dyadic products and their sum are exact).

    Membership is ``isin`` (a literal ``In`` that the optimizer converts
    to a hash-set ``InSet``), not ``array_contains`` over a 64-element
    literal array: the linear scan cost ~64 string compares per token
    and was the single most expensive feature of the rule plan
    (isolated: 3.6s → 1.3s over 600k docs; same membership semantics,
    tokens are never null)."""
    key = (lambda t: t.isin(*VOCAB)) if lowered else (
        lambda t: F.lower(t).isin(*VOCAB)
    )
    n = F.size(toks)
    n_iv = F.size(F.filter(toks, key))
    total = n_iv.cast("double") * F.lit(_IN_VOCAB_LOGP) + (
        n - n_iv
    ).cast("double") * F.lit(OOV_LOGP)
    return F.when(n > 0, total / n.cast("double")).otherwise(
        F.lit(EMPTY_DOC_LOGP)
    )


def avg_logprob_sql(toks: str) -> str:
    lst = ", ".join(f"'{w}'" for w in VOCAB)
    tok_logp = (
        f"case when list_contains([{lst}], lower(t)) "
        f"then {_IN_VOCAB_LOGP!r} else {OOV_LOGP!r} end"
    )
    total = f"list_aggregate(list_transform({toks}, t -> {tok_logp}), 'sum')"
    return (
        f"case when len({toks}) > 0 then {total} / cast(len({toks}) as double) "
        f"else {EMPTY_DOC_LOGP!r} end"
    )


_WS = re.compile(r"[ \t\n\x0B\f\r]+")  # match the Column/SQL tokenizer


def _avg_logprob_batch(texts: pd.Series) -> pd.Series:
    out = []
    for text in texts:
        toks = [t for t in _WS.split(text or "") if t]
        if not toks:
            out.append(EMPTY_DOC_LOGP)
            continue
        total = 0.0
        for t in toks:  # sequential accumulation == F.aggregate order
            total = total + LOGP.get(t.lower(), OOV_LOGP)
        out.append(total / float(len(toks)))
    return pd.Series(out, dtype="float64")


def avg_logprob_pandas_udf() -> Column:
    """Arrow-batched pandas UDF: text -> mean token log-probability."""
    return pandas_udf(_avg_logprob_batch, "double")
