"""The web-document quality-filter pipeline (BASELINE.json north rule).

Compiles the whole rule registry — heuristics, langid, perplexity, PII,
toxicity — into ONE DataFrame plan: a single scan producing feature columns,
per-rule hit columns, ``rule_hits`` map, ``keep``, ``drop_reason`` and
``scrubbed_text``.  This is the distributed generalization of the
reference's ``ValidationEngine.validate_data`` loop
(``/root/reference/src/data_quality/validators/base.py:175-212``), which ran
validators sequentially over pandas; here Catalyst fuses all rule families
into one whole-stage-codegen pass (SURVEY.md §4.1 "shared scan").

Scale notes (100 TB design point):
  * no shuffle in the filter itself — it is a pure map; the only exchange is
    the optional repartition-by-hash(url) before the partitioned write;
  * ``html`` is never referenced ⇒ Parquet column pruning drops the biggest
    column at the scan (SURVEY.md §4.1 column pruning);
  * all expressions are JVM Column exprs; langid/perplexity also ship as
    Arrow pandas UDFs (`use_arrow_udfs=True`) with identical results.
"""

from __future__ import annotations

import functools
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_data_quality_spark.core.types import (
    DROP_SEVERITIES,
    RuleResult,
    Severity,
)
from mysql_data_quality_spark.rules import heuristics, langid, perplexity, pii

#: entries kept by each memoized select-list builder below (least recently
#: used evicted first): a long-lived stream driver calls them every
#: micro-batch, and one input schema per stream needs one entry.
_PLAN_CACHE_SIZE = 16


#: memoized single-projection select lists for the pure-Column annotate
#: fast path.  Column objects are immutable unresolved expressions,
#: safely reusable across DataFrames and micro-batches — caching removes
#: both the py4j expression-construction chatter and all but one analyzer
#: pass per call (the withColumns chain eagerly analyzed ~6 growing
#: Datasets per invocation: ~0.9s driver time per call, per micro-batch
#: in streaming).  The expression forest (~0.7s to build) depends only on
#: (text col, claimed-lang col, rules); a new input schema costs just the
#: select-list assembly over it.
@functools.lru_cache(maxsize=_PLAN_CACHE_SIZE)
def _fast_annotate_exprs(
    text_col: str, claimed_lang: str, rules: tuple | None
) -> tuple:
    """The generated columns of the three levels above the tokenize
    projection (features, hits, decision columns), each a name → Column
    dict in the exact order the layered withColumns chain appends them
    — see ``heuristics.feature_exprs`` for why each shared intermediate
    must be a materialized attribute, not an inlined expression."""
    # Level F materializes the features over the `_toks` attribute,
    # level H the hit columns over the feature attributes, level B the
    # decision columns over the hit attributes (each generated column is
    # referenced by later levels and contains interpreted HOF subtrees,
    # so it must be a materialized attribute, not a repeated expression).
    feats = heuristics.feature_exprs(
        text_col,
        toks=F.col("_toks"),
        lines=F.col("_lines"),
        paras=F.col("_paras"),
    )
    hits = heuristics.hit_cols(text_col, claimed_lang, rules)  # attr refs
    severities = heuristics.all_rule_severities(rules)
    drop_names = sorted(
        n for n, s in severities.items() if s in DROP_SEVERITIES
    )
    gen_h = {f"hit_{n}": c for n, c in hits.items()}

    # level B: keep/drop_reason/rule_hits over hit attribute references
    href = {n: F.col(f"hit_{n}") for n in hits}
    any_drop: Column = F.lit(False)
    for n in drop_names:
        any_drop = any_drop | href[n]
    reason_parts = [
        F.when(href[n], F.lit(n)).otherwise(F.lit(None)) for n in drop_names
    ]
    drop_reason = F.array_join(
        F.filter(F.array(*reason_parts), lambda x: x.isNotNull()), ","
    )
    rule_hits = F.map_from_arrays(
        F.array(*[F.lit(n) for n in sorted(severities)]),
        F.array(*[href[n] for n in sorted(severities)]),
    )
    gen_b = {
        "keep": ~any_drop,
        "drop_reason": drop_reason,
        "rule_hits": rule_hits,
        "scrubbed_text": pii.scrub_col(F.col(text_col)),
    }
    return feats, gen_h, gen_b


@functools.lru_cache(maxsize=_PLAN_CACHE_SIZE)
def _fast_annotate_cols(
    in_cols: tuple, text_col: str, claimed_lang: str, rules: tuple | None
) -> list:
    """Select lists of the three fast-path levels over the input columns
    ``in_cols``: an input column sharing a generated name is replaced in
    place (withColumns semantics), the other generated columns append."""
    schema, levels = list(in_cols), []
    for gen in _fast_annotate_exprs(text_col, claimed_lang, rules):
        gen = dict(gen)
        cols = [
            gen.pop(c).alias(c) if c in gen else F.col(c) for c in schema
        ]
        cols += [c.alias(name) for name, c in gen.items()]
        schema += list(gen)
        levels.append(cols)
    return levels


def annotate(
    pages: DataFrame,
    text_col: str = "text",
    claimed_lang: str = "lang",
    use_arrow_udfs: bool = False,
    rules: tuple | None = None,
    lm=None,
    langid_model: dict | None = None,
) -> DataFrame:
    """pages -> pages + features + hit_<rule> columns + keep/drop/scrub.

    ``use_arrow_udfs=True`` swaps the langid / perplexity Column
    implementations for the Arrow-batched pandas UDFs (bit-identical
    results; see tests/test_udf_parity.py).  ``rules`` overrides the
    default heuristic registry (parameterized thresholds, enable flags) —
    the reference's ValidationRule surface.

    ``lm`` plugs a REAL language model into the perplexity feature: an
    :class:`~mysql_data_quality_spark.rules.arpa.ArpaModel` (KenLM's ARPA
    text format, parsed by ``rules/arpa.py``) whose Arrow-batched backoff
    scorer replaces ``avg_logp`` — the deployment path when the shipped
    deterministic unigram stand-in graduates to trained weights.  The
    perplexity rule's threshold then applies to the model's mean ln-prob
    (tune ``DQS_RULE_MIN_AVG_LOGP`` to the model's scale).

    ``langid_model`` is the same hook for language ID: a trained
    fastText-style weights dict (``rules/langid_trained.py``) whose
    Arrow-batched linear scorer replaces ``det_lang`` — opt-in, since
    the hashed feature space has no SQL oracle twin (the default
    lexicon detector remains the gate-checked path).
    """
    if not use_arrow_udfs and lm is None and langid_model is None:
        # Pure-Column fast path: the whole rule plan as four stacked
        # projections (tokens/lines/paras, features, hits, decision
        # columns) with memoized select lists — identical schema, rows,
        # and physical plan shape to the layered withColumns chain
        # below; the difference is the chain's eager analyzer passes
        # over growing intermediate Datasets plus per-call py4j
        # construction (~0.9s/call) collapsing to ~0.1s, which is what
        # the streaming micro-batch floor and every bench invocation
        # pay.
        # UDF-override paths stay layered: inlining a pandas UDF
        # expression into its several consumers could duplicate the
        # ArrowEvalPython node.
        cols_f, cols_h, cols_b = _fast_annotate_cols(
            tuple(pages.columns), text_col, claimed_lang, rules
        )
        return (
            heuristics.with_token_cols(pages, text_col)
            .select(*cols_f)
            .select(*cols_h)
            .select(*cols_b)
        )
    df = heuristics.with_features(pages, text_col)
    if use_arrow_udfs:
        df = df.withColumns(
            {
                "det_lang": langid.detect_pandas_udf()(F.col(text_col)),
                "avg_logp": perplexity.avg_logprob_pandas_udf()(F.col(text_col)),
            }
        )
    if langid_model is not None:
        from mysql_data_quality_spark.rules import langid_trained

        df = df.withColumn(
            "det_lang",
            langid_trained.detect_trained_udf(langid_model)(
                F.col(text_col)
            ),
        )
    if lm is not None:
        from mysql_data_quality_spark.rules import arpa

        df = df.withColumn(
            "avg_logp",
            arpa.avg_logprob_pandas_udf(
                lm, sc=pages.sparkSession.sparkContext
            )(F.col(text_col)),
        )

    hits = heuristics.hit_cols(text_col, claimed_lang, rules)
    df = df.withColumns({f"hit_{name}": c for name, c in hits.items()})

    severities = heuristics.all_rule_severities(rules)
    drop_names = sorted(
        n for n, s in severities.items() if s in DROP_SEVERITIES
    )
    any_drop: Column = F.lit(False)
    for n in drop_names:
        any_drop = any_drop | F.col(f"hit_{n}")

    # drop_reason: deterministic (sorted) comma-joined list of violated
    # drop-severity rules; empty string when kept
    reason_parts = [
        F.when(F.col(f"hit_{n}"), F.lit(n)).otherwise(F.lit(None))
        for n in drop_names
    ]
    drop_reason = F.array_join(
        F.filter(F.array(*reason_parts), lambda x: x.isNotNull()), ","
    )

    rule_hits = F.map_from_arrays(
        F.array(*[F.lit(n) for n in sorted(severities)]),
        F.array(*[F.col(f"hit_{n}") for n in sorted(severities)]),
    )

    return df.withColumns(
        {
            "keep": ~any_drop,
            "drop_reason": drop_reason,
            "rule_hits": rule_hits,
            "scrubbed_text": pii.scrub_col(F.col(text_col)),
        }
    )


DECISION_COLS = ("url", "keep", "drop_reason", "scrubbed_text")

@functools.lru_cache(maxsize=_PLAN_CACHE_SIZE)
def _fast_decision_cols(
    text_col: str, claimed_lang: str, rules: tuple | None
) -> list:
    """Memoized select list producing EXACTLY the four decision columns:
    only the drop-severity hit expressions and the features they need
    enter the tree (the optimizer pruned the full annotate tree to this
    anyway — building it pre-pruned skips analyzing the other ~half of
    the expression forest, which is pure per-call driver cost)."""
    feats = heuristics.feature_exprs(
        text_col,
        toks=F.col("_toks"),
        lines=F.col("_lines"),
        paras=F.col("_paras"),
    )
    hits = heuristics.hit_cols(text_col, claimed_lang, rules, feats=feats)
    severities = heuristics.all_rule_severities(rules)
    drop_names = sorted(
        n for n, s in severities.items() if s in DROP_SEVERITIES
    )
    # level A: materialize the drop-rule hits (each is referenced by
    # BOTH `keep` and `drop_reason` below and contains interpreted HOF
    # subtrees — as attributes they evaluate once per row) + the scrub;
    # level B: the 4-column decision contract over those attributes.
    cols_a = [
        F.col("url"),
        pii.scrub_col(F.col(text_col)).alias("scrubbed_text"),
        *[hits[n].alias(f"hit_{n}") for n in drop_names],
    ]
    href = {n: F.col(f"hit_{n}") for n in drop_names}
    any_drop: Column = F.lit(False)
    for n in drop_names:
        any_drop = any_drop | href[n]
    reason_parts = [
        F.when(href[n], F.lit(n)).otherwise(F.lit(None)) for n in drop_names
    ]
    drop_reason = F.array_join(
        F.filter(F.array(*reason_parts), lambda x: x.isNotNull()), ","
    )
    cols_b = [
        F.col("url"),
        (~any_drop).alias("keep"),
        drop_reason.alias("drop_reason"),
        F.col("scrubbed_text"),
    ]
    return cols_a, cols_b


def decisions(
    pages: DataFrame,
    use_arrow_udfs: bool = False,
    rules: tuple | None = None,
    langid_model: dict | None = None,
) -> DataFrame:
    """The per-document output contract: url -> keep/drop + scrubbed text."""
    if not use_arrow_udfs and langid_model is None:
        cols_a, cols_b = _fast_decision_cols("text", "lang", rules)
        return (
            heuristics.with_token_cols(pages)
            .select(*cols_a)
            .select(*cols_b)
        )
    return annotate(
        pages,
        use_arrow_udfs=use_arrow_udfs,
        rules=rules,
        langid_model=langid_model,
    ).select(*DECISION_COLS)


# ---------------------------------------------------------------------------
# per-run metrics (reference ValidationResult semantics, base.py:21-41)
# ---------------------------------------------------------------------------


def _metric_aggs(severities: dict) -> list[Column]:
    aggs = [F.count(F.lit(1)).alias("_total")] + [
        F.sum(F.col(f"hit_{n}").cast("long")).alias(n) for n in severities
    ]
    aggs.append(F.sum((~F.col("keep")).cast("long")).alias("_dropped"))
    return aggs


def metrics(
    annotated: DataFrame, table_name: str = "pages", rules: tuple | None = None
) -> list[RuleResult]:
    """One aggregation pass -> one RuleResult per rule (+ a keep-rate row).

    affected_rows = number of hits; pass_rate as in the reference
    (``validators/base.py:36-41``).  Single job: all sums in one ``agg``.
    NB: this runs its own pass over ``annotated``; when the annotated rows
    are about to be written anyway, use :func:`observe_metrics` +
    :func:`metrics_from_observation` to get the same numbers from the
    write pass for free.
    """
    severities = heuristics.all_rule_severities(rules)
    row = annotated.agg(*_metric_aggs(severities)).collect()[0].asDict()
    return _metric_results(row, severities, table_name)


def observe_metrics(
    annotated: DataFrame, name: str = "qf_metrics", rules: tuple | None = None
):
    """Attach the rule-hit metric aggregates to the plan as an
    ``Observation`` — zero extra scans: whatever action consumes the
    returned DataFrame (typically the decisions write) also produces the
    per-rule metrics.  This is how the 100 TB run gets its metrics table:
    as a side effect of the single write pass, not a second pipeline
    execution.

    Returns (df, observation); after an action on ``df``, pass
    ``observation.get`` to :func:`metrics_from_observation`.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    severities = heuristics.all_rule_severities(rules)
    return annotated.observe(obs, *_metric_aggs(severities)), obs


def metrics_from_observation(
    observed: dict, table_name: str = "pages", rules: tuple | None = None
) -> list[RuleResult]:
    """Build the RuleResult list from ``Observation.get`` — same output
    shape as :func:`metrics` (equality is pinned by a test).  Pass the
    same ``rules`` the annotated frame was built with."""
    return _metric_results(
        dict(observed), heuristics.all_rule_severities(rules), table_name
    )


def _metric_results(
    row: dict, severities: dict, table_name: str
) -> list[RuleResult]:
    total = row["_total"]
    now = datetime.now(timezone.utc)

    results = []
    for name, sev in sorted(severities.items()):
        affected = int(row[name] or 0)
        results.append(
            RuleResult(
                rule_name=name,
                table_name=table_name,
                column_name="text",
                severity=sev,
                passed=affected == 0,
                message=f"rule '{name}' hit {affected}/{total} documents",
                details={"hit_count": affected},
                timestamp=now,
                affected_rows=affected,
                total_rows=int(total),
            )
        )
    dropped = int(row["_dropped"] or 0)
    results.append(
        RuleResult(
            rule_name="keep_rate",
            table_name=table_name,
            column_name=None,
            severity=Severity.INFO,
            passed=True,
            message=f"kept {total - dropped}/{total} documents",
            details={"kept": total - dropped, "dropped": dropped},
            timestamp=now,
            affected_rows=dropped,
            total_rows=int(total),
        )
    )
    return results


# ---------------------------------------------------------------------------
# DuckDB oracle: the identical decision query as ANSI SQL
# ---------------------------------------------------------------------------


def decisions_sql(pages_rel: str, rules: tuple | None = None) -> str:
    """Full oracle SELECT over a pages relation (table or CTE name)."""
    hits = heuristics.hit_sqls("text", "lang", rules)
    severities = heuristics.all_rule_severities(rules)
    drop_names = sorted(
        n for n, s in severities.items() if s in DROP_SEVERITIES
    )
    keep = "not (" + " or ".join(f"({hits[n]})" for n in drop_names) + ")"
    reason = (
        "coalesce(array_to_string(list_filter(["
        + ", ".join(
            f"case when {hits[n]} then '{n}' else null end" for n in drop_names
        )
        + "], x -> x is not null), ','), '')"
    )
    scrub = pii.scrub_sql("text")
    return (
        f"select url, {keep} as keep, {reason} as drop_reason, "
        f"{scrub} as scrubbed_text from {pages_rel}"
    )


def flat_hits(pages: DataFrame) -> DataFrame:
    """url + one boolean column per rule — the oracle-friendly flat view."""
    ann = annotate(pages)
    severities = heuristics.all_rule_severities()
    cols = [F.col("url")] + [
        F.col(f"hit_{n}").alias(f"hit_{n}") for n in sorted(severities)
    ]
    return ann.select(*cols)


def flat_hits_sql(pages_rel: str) -> str:
    hits = heuristics.hit_sqls("text", "lang")
    cols = ", ".join(f"({hits[n]}) as hit_{n}" for n in sorted(hits))
    return f"select url, {cols} from {pages_rel}"
