"""Command-line interface — the Spark re-expression of the reference CLI
(``/root/reference/src/data_quality/cli.py``): ``validate`` (entry point 1,
cli.py:180-331), ``analyze`` (entry point 2, cli.py:334-404),
``list-tables`` / ``count`` (cli.py:64-113), plus the pipeline-specific
``filter`` command.

Tables are parquet paths (the five SQL dialect connectors collapse to the
format registry — SURVEY.md S6/S12).

Usage::

    python -m mysql_data_quality_spark.cli validate /path/t.parquet \
        [--validators completeness duplicates] [--sample-size 10000]
    python -m mysql_data_quality_spark.cli analyze  /path/t.parquet \
        [--output-dir reports]
    python -m mysql_data_quality_spark.cli list-tables /dir/of/parquets
    python -m mysql_data_quality_spark.cli filter --documents /sf/dir \
        --output /out
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


class _Session:
    """Context manager that only stops the SparkSession it created —
    embedding callers (tests, notebooks) keep their session alive."""

    def __init__(self, cores: int | None):
        self.cores = cores
        self.owned = False

    def __enter__(self):
        from pyspark.sql import SparkSession

        from mysql_data_quality_spark.core.session import get_spark

        self.owned = SparkSession.getActiveSession() is None
        self.spark = get_spark(app_name="mdqs-cli", cores=self.cores)
        return self.spark

    def __exit__(self, *exc):
        if self.owned:
            self.spark.stop()
        return False


def _read_pages(spark, args):
    """The pages frame named by ``--input`` (a pages parquet) or
    ``--documents`` (a documents dir, expanded by ``pipeline.pages``)."""
    if args.input:
        return spark.read.parquet(args.input)
    from mysql_data_quality_spark.pipeline import pages as P

    return P.read_pages(spark, args.documents)


# reference validate's report format names (cli.py:192-196) mapped to the
# unified-report writer keys ("summary" is the reference name for the text
# report; generate_report there writes .txt too)
_VALIDATE_FORMATS = {"html": "html", "json": "json", "summary": "txt"}


def cmd_validate(args) -> int:
    from mysql_data_quality_spark.core.orchestrator import (
        Orchestrator,
        default_engine,
    )
    from mysql_data_quality_spark.reports import write_unified_report
    from mysql_data_quality_spark.reports.summary import top_issues

    with _Session(args.cores) as spark:
        df = spark.read.parquet(args.table)
        name = Path(args.table).stem
        orc = Orchestrator(
            spark, engine=default_engine(), sample_size=args.sample_size
        )
        analysis = orc.analyze_table(df, name, validator_names=args.validators)
        s = analysis["summary"]
        print(
            f"{name}: {s['passed_checks']}/{s['total_checks']} checks passed "
            f"({s['success_rate']:.1f}% — {s['quality_score']})"
        )
        for r in top_issues(analysis["results"]):
            col = f"[{r.column_name}] " if r.column_name else ""
            print(f"  {r.severity.value:8s} {col}{r.rule_name}: {r.message}")
        # reference always writes at least a summary report (cli.py:290-299:
        # formats_to_generate = report_format or ["summary"])
        formats = [
            _VALIDATE_FORMATS[f]
            for f in (args.report_format or ["summary"])
        ]
        paths = write_unified_report(
            analysis["results"],
            name,
            args.output_dir,
            metadata=analysis["metadata"],
            formats=formats,
        )
        for fmt, path in paths.items():
            print(f"  report[{fmt}]: {path}")
        return 0 if s["failed_checks"] == 0 else 1


def cmd_analyze(args) -> int:
    from mysql_data_quality_spark.core.orchestrator import Orchestrator

    with _Session(args.cores) as spark:
        df = spark.read.parquet(args.table)
        name = Path(args.table).stem
        orc = Orchestrator(
            spark, sample_size=args.sample_size, output_dir=args.output_dir
        )
        analysis = orc.run_complete_analysis(
            df, name, formats=tuple(args.formats)
        )
        print(
            json.dumps(
                {
                    "table": name,
                    "summary": analysis["summary"],
                    "metadata": analysis["metadata"],
                    "reports": {
                        k: str(v) for k, v in analysis["report_paths"].items()
                    },
                }
            )
        )
        return 0


def cmd_list_tables(args) -> int:
    from mysql_data_quality_spark.sources.registry import get_table_count

    with _Session(args.cores) as spark:
        rows = []
        for p in sorted(Path(args.directory).glob("*.parquet")):
            df = spark.read.parquet(str(p))
            rows.append((p.stem, get_table_count(df), len(df.columns)))
        # reference sorts by row count desc (cli.py:94-99)
        for name, n, c in sorted(rows, key=lambda r: -r[1]):
            print(f"{name:20s} {n:>12,} rows  {c:>3} cols")
        return 0


def cmd_describe_table(args) -> int:
    """Reference ``describe-table`` (cli.py:135-178): table name, record
    count, and a column table (name / type / nullable).  TABLE is a
    parquet path by default; with ``--jdbc-url`` it is a database table
    name read through the JDBC source."""
    from mysql_data_quality_spark.sources.registry import (
        get_table_count,
        get_table_info,
        read_jdbc,
    )

    with _Session(args.cores) as spark:
        if args.jdbc_url:
            df = read_jdbc(spark, args.jdbc_url, args.table)
            name = args.table
        else:
            df = spark.read.parquet(args.table)
            name = Path(args.table).stem
        print(f"Table: {name}")
        print(f"Records: {get_table_count(df):,}")
        print(f"{'column':<28} {'type':<20} nullable")
        for c in get_table_info(df):
            nullable = "YES" if c["nullable"] else "NO"
            print(f"{c['name']:<28} {c['type']:<20} {nullable}")
        return 0


def cmd_test_connection(args) -> int:
    """Reference ``test-connection`` (cli.py:21-46): open the connection,
    run a trivial probe, report success/failure.  The target is ``--url``
    (any JDBC url) or, like the reference, the ``DB_*`` environment
    (DB_DRIVER/DB_HOST/DB_PORT/DB_NAME/DB_USER/DB_PASSWORD via
    ``DatabaseConfig``).  ``--probe-query`` overrides the probe for
    dialects without bare SELECT (Derby: ``VALUES 1`` needs a FROM-less
    form — pass ``SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1``)."""
    from mysql_data_quality_spark.core.config import DatabaseConfig, load_dotenv
    from mysql_data_quality_spark.sources.registry import read_jdbc

    options: dict[str, str] = {}
    if args.url:
        url = args.url
        target = url
    else:
        load_dotenv()
        db = DatabaseConfig.from_env()
        url, options, target = (
            db.jdbc_url,
            db.jdbc_options,
            f"{db.driver}://{db.host}:{db.port}/{db.name}",
        )
    print(f"Testing connection to {target} ...")
    dbtable = f"({args.probe_query}) probe"
    with _Session(args.cores) as spark:
        try:
            row = read_jdbc(
                spark, url, dbtable, driver=args.driver, **options
            ).limit(1).collect()
        except Exception as e:  # noqa: BLE001 — CLI boundary, report & exit
            first = str(e).splitlines()[0] if str(e) else repr(e)
            print(f"Connection failed: {first}")
            return 1
        print(f"Connection successful! probe returned {len(row)} row(s)")
        return 0


def cmd_filter(args) -> int:
    """Run the checkpointed quality-filter pipeline.

    Rule thresholds come from the environment (``core/config.py``:
    ``.env`` + ``DQS_RULE_*``), and the per-rule metrics table is produced
    by an ``observe()`` on the SAME write pass — no second pipeline
    execution (written to ``<output>/metrics/``)."""
    from mysql_data_quality_spark.core.config import load_dotenv, rules_from_env
    from mysql_data_quality_spark.pipeline import pages as P
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.pipeline.checkpoint import CheckpointedWriter
    from mysql_data_quality_spark.reports import write_unified_report
    from mysql_data_quality_spark.rules.heuristics import profile_rules

    keep = args.dedup_keep
    keep_ts = "warc_ts" if keep == "newest" else None
    if keep != "min_id" and not (args.dedup or args.dedup_history):
        # same never-a-silent-no-op rule as --decontaminate-fuzzy below
        print(
            "error: --dedup-keep requires --dedup or --dedup-history "
            "(there is no dedup stage for the policy to apply to)",
            file=sys.stderr,
        )
        return 2
    if args.history_bloom and not (args.dedup_history or args.near_history):
        print(
            "error: --history-bloom requires --dedup-history or "
            "--near-history (it prefilters those stages' history "
            "scans)",
            file=sys.stderr,
        )
        return 2
    fuzzy_thr = args.decontaminate_fuzzy
    if fuzzy_thr is not None and not args.decontaminate:
        # a data-hygiene flag must never be a silent no-op: the fuzzy
        # pass needs the eval-set path that --decontaminate carries.
        # Checked BEFORE any Spark work so the user sees the flag error,
        # not a downstream read failure.
        print(
            "error: --decontaminate-fuzzy requires --decontaminate "
            "EVAL_PARQUET (the eval set the fuzzy pass matches against)",
            file=sys.stderr,
        )
        return 2
    if args.semantic_history and not args.semantic_embeddings:
        print(
            "error: --semantic-history requires --semantic-embeddings "
            "PARQUET (the url -> embedding mapping it buckets on)",
            file=sys.stderr,
        )
        return 2
    if args.dedup_semantic is not None and not args.semantic_embeddings:
        # same rule: the semantic stage without its embedding source
        # would silently dedup nothing
        print(
            "error: --dedup-semantic requires --semantic-embeddings "
            "PARQUET (the url -> embedding mapping it clusters on)",
            file=sys.stderr,
        )
        return 2
    writer = CheckpointedWriter(args.output, n_buckets=args.buckets)
    if not args.resume and writer.completed_buckets():
        # a rerun into a finished output is a resume only when asked
        # for: refusing by default keeps a mistyped --output from
        # silently skipping every bucket of a different corpus
        print(
            f"error: {args.output} has prior lineage; pass --resume to "
            "continue or point at a fresh directory",
            file=sys.stderr,
        )
        return 2
    load_dotenv()
    # profile picks the base enable mask; DQS_RULE_* env still overrides
    # individual thresholds/enables on top of it
    rules = rules_from_env(base=profile_rules(args.profile))
    with _Session(args.cores) as spark:
        if args.input_warc:
            # raw crawl ingestion: .warc/.warc.gz files -> pages frame
            # (text NULL until --extract-html fills it from the html
            # payload; the flag is auto-enabled for this source)
            from mysql_data_quality_spark.sources.warc import read_warc

            pages = read_warc(spark, args.input_warc)
            args.extract_html = True
        elif args.input_wet:
            # WET ingestion: text arrives pre-extracted by the crawl
            from mysql_data_quality_spark.sources.warc import read_wet

            pages = read_wet(spark, args.input_wet)
        else:
            pages = _read_pages(spark, args)
        blfile = args.blocklist
        if blfile:
            # URL-keyed admission control FIRST: it needs no document
            # text, so blocked pages never pay extraction, normalization,
            # dedup hashing, or rules.  The blocklist broadcasts; the
            # corpus never shuffles (suffix match -> broadcast anti join).
            from mysql_data_quality_spark.operators.blocklist import (
                blocklist_filtered_corpus,
                read_blocklist,
            )

            pages = blocklist_filtered_corpus(
                pages, read_blocklist(spark, blfile), "url"
            )
        if args.drop_noindex:
            # honor robots noindex before anything else touches the
            # payload: pure-map filter on the raw html (NULL html kept)
            from mysql_data_quality_spark.functions.htmltext import (
                drop_noindex,
            )

            pages = drop_noindex(pages)
        if args.extract_html:
            # WARC-payload ingest: fill missing text from the raw html
            # (pure-Column extraction; rows with text keep it byte-identical)
            pages = P.pages_with_extracted_text(pages)
        if args.fix_mojibake:
            # encoding repair BEFORE Unicode normalization: mojibake is
            # a byte-level failure (utf-8 read as cp1252), normalization
            # a codepoint-level one — fixing in the other order bakes
            # the wrong codepoints in
            from pyspark.sql import functions as F  # noqa: N812

            from mysql_data_quality_spark.functions.normalize import (
                fix_mojibake_col,
            )

            pages = pages.withColumn(
                "text", fix_mojibake_col(F.col("text"))
            )
        norm = args.normalize_text
        if norm:
            # Unicode cleanup BEFORE any dedup/decontamination stage, so
            # visually identical text (NFC vs NFD accents, zero-width
            # chars) shares one hash key everywhere downstream
            from mysql_data_quality_spark.functions.normalize import (
                normalize_corpus,
            )

            pages = normalize_corpus(pages, "text", form=norm.upper())
        if args.dedup_lines:
            # within-DOCUMENT repeated-line removal (RefinedWeb line-wise
            # correction): nav/menu lines repeated inside one page
            # collapse to their first occurrence.  Pure per-doc Column
            # fold — runs before EVERY dedup stage (exact, history,
            # paragraph, fuzzy) so they all hash the cleaned text.
            from pyspark.sql import functions as _F

            from mysql_data_quality_spark.functions.text import (
                dedup_lines_col,
            )

            pages = pages.withColumn(
                "text", dedup_lines_col(_F.col("text"))
            )
        hist_dir = args.dedup_history
        near = args.dedup_near
        near_hist = args.near_history
        # frames cached by the stages below, released after the write
        # and the history commits (which replay the composed lineage when
        # no pin sits between)
        held = []
        if args.dedup and not hist_dir:
            # end-to-end corpus pipeline: exact-dedup (keep smallest url
            # per normalized-text group) BEFORE the filter, so rules and
            # scrubbing run once per surviving document.  Skipped when
            # --dedup-history is set: dedup_against_history already runs
            # the identical within-batch dedup internally — running it
            # here too would pay the md5 + groupBy + anti join twice for
            # the same result (round-4 review finding)
            from mysql_data_quality_spark.operators.dedup import (
                dedup_exact_corpus,
            )

            pages = dedup_exact_corpus(
                pages, "url", "text", keep=keep, ts_col=keep_ts
            )
        if hist_dir:
            # cross-RUN incremental dedup: probe the hash history now,
            # commit this run's hashes only AFTER the checkpointed write
            # finishes (crash before commit -> batch re-emits, write
            # resume dedups it; crash after -> clean)
            from mysql_data_quality_spark.operators.dedup import (
                dedup_against_history,
            )

            pages = dedup_against_history(
                pages, "url", "text", hist_dir,
                update_history=False, keep_hash_col=True,
                keep=keep, ts_col=keep_ts,
                history_prefilter=(
                    "bloom"
                    if args.history_bloom
                    else "none"
                ),
            )
            # the PINNED probe result is what commit_history records
            # after the write — capture it before later stages (decon/
            # near/domain) reassign `pages`: history means "seen and
            # decided", so a doc those stages drop must still commit
            # (a byte-identical re-delivery next run would otherwise be
            # re-judged and could ship as a duplicate), and the commit
            # must read cached blocks, not re-run the stage lineage
            hist_probe = pages
        if args.dedup_paragraph:
            # CCNet-style paragraph-level dedup: boilerplate paragraphs
            # (nav chrome, cookie banners) that repeat across otherwise
            # distinct pages survive exactly once corpus-wide; documents
            # are rebuilt from their kept paragraphs.  Runs after the
            # document-level exact stages (fewer docs to explode) and
            # BEFORE decontamination and the fuzzy stage, so both judge
            # the text that actually ships.
            from mysql_data_quality_spark.operators.pardedup import (
                paragraph_dedup_corpus,
            )

            pages = paragraph_dedup_corpus(
                pages, "url", "text", drop_empty=True
            )
        decon = args.decontaminate
        if decon:
            # benchmark decontamination: drop documents sharing any
            # n-gram with the held-out eval set.  Composes after exact
            # dedup (fewer docs to gram) and before the fuzzy stage /
            # filter; order never changes the result — contamination is
            # a per-document content property, so a contaminated dedup
            # winner is dropped here all the same.
            from mysql_data_quality_spark.operators.decontaminate import (
                decontaminated_corpus,
            )

            pages = decontaminated_corpus(
                pages,
                spark.read.parquet(decon),
                n=args.decontaminate_ngram,
                corpus_id="url",
                corpus_text="text",
            )
            if fuzzy_thr is not None:
                # fuzzy pass on top of the exact one: paraphrased eval
                # leaks (a changed word breaks every 13-gram through it
                # but barely moves shingle Jaccard) caught by minhash
                # band collision + signature-agreement verification
                from mysql_data_quality_spark.operators.decontaminate import (
                    fuzzy_decontaminated_corpus,
                )

                pages = fuzzy_decontaminated_corpus(
                    pages,
                    spark.read.parquet(decon),
                    threshold=fuzzy_thr,
                    corpus_id="url",
                    corpus_text="text",
                )
                held.append(pages._persisted_sigs)
        if near:
            # FUZZY dedup stage (the near-dup pass every real training
            # pipeline runs after exact dedup): sub-quadratic candidate
            # pairs -> connected components -> keep one doc per cluster.
            # Runs AFTER exact/history dedup (pairs over the surviving
            # corpus) and BEFORE the filter, so rules/scrubbing run once
            # per kept document.  Pair generators are the scale paths:
            # minhash = banded LSH on word shingles (text-level near-dup),
            # fingerprint = shared winnowing fingerprints (copied-passage
            # near-dup); both exchange ids only, never text.
            from mysql_data_quality_spark.operators.dedup import (
                deduplicated_corpus,
                minhash_lsh_pairs,
            )
            from mysql_data_quality_spark.operators.textstats import (
                fingerprint_duplicate_pairs,
            )

            if near == "minhash":
                if not near_hist:
                    pairs = minhash_lsh_pairs(
                        pages, "url", "text",
                        k=3, num_hashes=32, bands=8,
                        threshold=args.near_threshold,
                        star_edges=args.near_star_edges,
                    )
                    held.append(pairs._persisted_sigs)
                    pages = deduplicated_corpus(pages, pairs, "url")
                # else: near_dedup_against_history below runs the
                # identical within-batch minhash pass internally —
                # running it here too would hash every shingle twice
                # for the same rows (the --dedup/--dedup-history
                # subsumption pattern)
            else:  # fingerprint
                pairs = fingerprint_duplicate_pairs(
                    pages, "url", "text", k=8, w=8,
                    min_shared=args.near_min_shared,
                )
                held.append(pairs._persisted_prints)
                pages = deduplicated_corpus(pages, pairs, "url")
        if near_hist:
            # cross-RUN fuzzy dedup (CCNet/RefinedWeb across crawl
            # dumps): within-batch minhash near-dedup, then drop batch
            # survivors whose LSH band hashes collide with any
            # previously-kept document; band rows commit only AFTER the
            # checkpointed write finishes (same crash contract as
            # --dedup-history)
            from mysql_data_quality_spark.operators.dedup import (
                near_dedup_against_history,
            )

            pages = near_dedup_against_history(
                pages, "url", "text", near_hist,
                k=3, num_hashes=32, bands=8,
                threshold=args.near_threshold,
                update_history=False,
                star_edges=args.near_star_edges,
                history_prefilter=(
                    "bloom"
                    if args.history_bloom
                    else "none"
                ),
            )
            # same capture as hist_probe: commit the pinned near-probe
            # survivors, not the post-domain-threshold frame
            near_probe = pages
        sem_thr = args.dedup_semantic
        sem_hist = args.semantic_history
        sem_probe = sem_emb = None
        sem_dim = args.semantic_dim
        if sem_hist:
            # cross-run SemDeDup: within-batch semantic dedup + drop
            # batch docs whose embedding collides with any previously-
            # kept doc's hyperplane bucket (subsumes --dedup-semantic
            # within-batch, like --near-history subsumes --dedup-near
            # minhash); bucket rows commit only AFTER the write
            from mysql_data_quality_spark.operators.dedup import (
                semantic_dedup_against_history,
            )

            sem_emb = spark.read.parquet(args.semantic_embeddings)
            if sem_dim is None:
                row = sem_emb.selectExpr("size(embedding) as d").first()
                sem_dim = int(row["d"]) if row else None
            pages = semantic_dedup_against_history(
                pages, sem_emb, "url", sem_hist,
                dim=sem_dim,
                threshold=sem_thr if sem_thr is not None else 0.85,
                update_history=False,
            )
            sem_probe = pages
        elif sem_thr is not None:
            # SemDeDup stage: drop embedding-space near-duplicates
            # (paraphrases/translations that shingle-level near-dup
            # can't see).  Runs after the text-level dedup stages —
            # fewer vectors to band — and before the filter, so rules
            # and scrubbing run once per kept document.  Embeddings come
            # from a provided parquet (url -> array<float>); pages
            # without one are kept.
            from mysql_data_quality_spark.operators.dedup import (
                semantic_dedup_corpus,
            )

            pages = semantic_dedup_corpus(
                pages,
                spark.read.parquet(args.semantic_embeddings),
                "url",
                dim=sem_dim,
                threshold=sem_thr,
            )
        dsir_tgt = args.dsir_target
        if dsir_tgt is not None:
            # DSIR stage (importance resampling toward an in-domain
            # target sample): runs after the dedup family — selection
            # over the deduped corpus, per the published recipe — and
            # before domain admission, so site keep-rates judge the
            # selected text.  Deterministic hash Bernoulli: resumes and
            # replays keep identical rows.
            from mysql_data_quality_spark.operators.dsir import (
                dsir_resample,
            )

            pages = dsir_resample(
                pages,
                spark.read.parquet(dsir_tgt),
                "url",
                rate=args.dsir_rate,
                temperature=args.dsir_temperature,
            )
            held.append(pages._persisted_weights)
        dom_thr = args.domain_threshold
        if dom_thr is not None:
            # whole-SITE admission (RefinedWeb "bad neighborhood" stage):
            # drop every document of a domain whose pages mostly fail the
            # registry — including its individually-passing pages.  Runs
            # LAST among the corpus stages so the keep-rate judges the
            # text that actually ships; costs one extra aggregate pass
            # over the (domain, keep) projection, drop list broadcasts.
            from mysql_data_quality_spark.operators.domains import (
                domain_quality_filtered,
            )

            # the stats pass + the final write are TWO consumers of the
            # composed upstream plan (blocklist/dedup/decontaminate all
            # rerun per consumer) — pin once so each stage executes once.
            # Skip the pin when pages is still the raw scan (re-reading
            # parquet is cheaper than materializing it) or already
            # pinned by the near-history stage.
            post_pin = (
                args.dedup_paragraph or decon or near
            )
            pinned_already = bool(near_hist) or (
                bool(hist_dir) and not post_pin
            )  # those stages localCheckpoint internally
            staged = any((
                blfile, args.drop_noindex, args.extract_html, norm,
                args.dedup_lines, args.dedup, hist_dir, post_pin,
            ))
            if staged and not pinned_already:
                pages = pages.localCheckpoint()
            pages = domain_quality_filtered(
                pages, dom_thr,
                min_docs=args.domain_min_docs,
                rules=rules,
            )
        lm = None
        if args.arpa_model:
            from mysql_data_quality_spark.rules.arpa import parse_arpa_file

            lm = parse_arpa_file(args.arpa_model)
        li_model = None
        if args.langid_model:
            from mysql_data_quality_spark.rules.langid_trained import (
                load_model,
            )

            li_model = load_model(args.langid_model)
        ann = QF.annotate(pages, rules=rules, lm=lm, langid_model=li_model)
        observed, obs = QF.observe_metrics(ann, rules=rules)
        dec = observed.select(*QF.DECISION_COLS)
        stats = writer.run(dec, group_size=args.group_size)
        if stats["input_scans"] > 0:  # observation fires with the write job
            res = QF.metrics_from_observation(obs.get, rules=rules)
            paths = write_unified_report(
                res, "pages", Path(args.output) / "metrics"
            )
            stats["metrics_reports"] = {k: str(v) for k, v in paths.items()}
        if (hist_dir or near_hist or sem_probe is not None) and (
            dom_thr is not None or dsir_tgt is not None
        ):
            # domain keep-rate is CORPUS-RELATIVE, not a content
            # property: a doc dropped solely because its domain scored
            # badly THIS run must not be suppressed from every future
            # run (r5 ADVICE).  The SAME holds for DSIR (r6 ADVICE):
            # its keep decision is a batch-statistics lottery (ratio
            # table + E[w] are corpus-relative, rate < 1 by design), so
            # a doc dropped by this run's draw must stay re-judgeable
            # on redelivery.  Commit only the corpus-survivors —
            # semi-join the pinned probe frames against the post-stage
            # corpus, accepting that a byte-identical redelivery of a
            # dropped doc is re-judged next run (the correct trade).
            survivors = pages.select("url")
            if hist_dir:
                hist_probe = hist_probe.join(survivors, "url", "left_semi")
            if near_hist:
                near_probe = near_probe.join(survivors, "url", "left_semi")
            if sem_probe is not None:
                sem_probe = sem_probe.join(survivors, "url", "left_semi")
        if hist_dir:
            # the write (or its verified resume) is complete: NOW record
            # this batch's hashes (reads the pinned probe result, not the
            # input); a rerun after a crash here re-commits — duplicate
            # hash rows are harmless to the anti-join probe
            from mysql_data_quality_spark.operators.dedup import (
                commit_history,
            )

            commit_history(hist_probe, hist_dir)
            stats["history_dir"] = hist_dir
        if near_hist:
            # write committed: record this run's band hashes (recomputed
            # from the pinned survivor frame with the pinned geometry)
            from mysql_data_quality_spark.operators.dedup import (
                commit_near_history,
            )

            commit_near_history(
                near_probe, "url", "text", near_hist,
                k=3, num_hashes=32, bands=8,
            )
            stats["near_history_dir"] = near_hist
        if sem_probe is not None and sem_dim is not None:
            from mysql_data_quality_spark.operators.dedup import (
                commit_semantic_history,
            )

            commit_semantic_history(
                sem_probe, sem_emb, "url", sem_hist, dim=sem_dim
            )
            stats["semantic_history_dir"] = sem_hist
        for frame in held:
            frame.unpersist()
        print(json.dumps(stats))
        return 0


def cmd_stream_filter(args) -> int:
    """Run the quality filter as an ``availableNow`` Structured-Streaming
    job over a directory of page-parquet drops: processes everything
    currently present, commits the streaming checkpoint, and exits.
    Re-running after new files land processes ONLY the new files (the
    file-source checkpoint is the resume point), so a cron/Airflow loop of
    this command is an incremental crawl-ingest pipeline.

    ``--dedup`` inserts Spark's streaming first-seen-url dedup before the
    rule plan — the streaming analogue of ``filter --dedup`` (semantics
    and state sizing: ``incremental.start_filter_stream``)."""
    from mysql_data_quality_spark.streaming.incremental import (
        raise_progress_retention,
        start_filter_stream,
        stream_input_rows,
    )

    li_model = None
    if args.langid_model:
        from mysql_data_quality_spark.rules.langid_trained import (
            load_model,
        )

        li_model = load_model(args.langid_model)
    lm = None
    if args.arpa_model:
        from mysql_data_quality_spark.rules.arpa import parse_arpa_file

        lm = parse_arpa_file(args.arpa_model)
    with _Session(args.cores) as spark:
        raise_progress_retention(spark)
        q = start_filter_stream(
            spark,
            args.input_dir,
            args.output,
            args.checkpoint,
            dedup=args.dedup,
            files_per_trigger=args.files_per_trigger,
            langid_model=li_model,
            lm=lm,
        )
        q.awaitTermination()
        n_rows, n_batches = stream_input_rows(q)
        print(
            json.dumps(
                {
                    "batches": n_batches,
                    "input_rows": n_rows,
                    "output": args.output,
                    "checkpoint": args.checkpoint,
                }
            )
        )
        return 0


def cmd_stream_metrics(args) -> int:
    """Event-time windowed rule-hit metrics over a drop directory
    (``availableNow``): tumbling windows on ``warc_ts`` with a watermark
    for late pages, appended exactly-once to a parquet metrics table.
    Same registry as the batch metrics, so columns match one-to-one."""
    from mysql_data_quality_spark.core.config import load_dotenv, rules_from_env
    from mysql_data_quality_spark.streaming.incremental import (
        raise_progress_retention,
        start_windowed_metrics_stream,
        stream_input_rows,
    )

    load_dotenv()
    with _Session(args.cores) as spark:
        raise_progress_retention(spark)
        q = start_windowed_metrics_stream(
            spark,
            args.input_dir,
            args.checkpoint,
            window=args.window,
            watermark=args.watermark,
            sink_path=args.output,
            rules=rules_from_env(),
        )
        q.awaitTermination()
        from pyspark.errors import AnalysisException

        try:
            n_windows = spark.read.parquet(args.output).count()
        except AnalysisException:
            # append mode emits a window only once the watermark passes
            # it: a drop whose event times span less than the watermark
            # horizon legitimately produces an empty sink (only the
            # _spark_metadata log) — report 0, don't crash
            n_windows = 0
        n_rows, _ = stream_input_rows(q)
        print(json.dumps({
            "input_rows": n_rows,
            "metric_windows": n_windows,
            "output": args.output,
        }))
        return 0


def cmd_compact_history(args) -> int:
    """Maintenance for a ``filter --dedup-history``, ``--near-history`` or
    ``--semantic-history`` history: fold all committed ``run=<id>`` dirs
    into one distinct-key run (crash-safe: the compacted run commits
    before old runs are deleted; the key columns come from the history's
    manifest).  Run between ingest batches, not concurrently with an
    appending job."""
    from mysql_data_quality_spark.operators.dedup import compact_history

    with _Session(args.cores) as spark:
        n = compact_history(spark, args.history_dir)
        print(json.dumps({"history_dir": args.history_dir,
                          "distinct_hashes": n}))
        return 0


def cmd_corpus_stats(args) -> int:
    """One-command corpus profile — the report a curator reads before
    configuring the filter: volumetry, duplicate rate, token-length
    histogram, language + Unicode-script distributions, top domains.

    Every component is one of the engine's oracle/parity-tested
    operators; the scan is cached so the component jobs share it.  All
    aggregations are map-side combinable (no windows, no sorts beyond
    the bounded top-domains limit); ``--approx`` swaps the exact
    distinct-text count for HLL ``approx_count_distinct`` (the 10^12-row
    path)."""
    from pyspark.sql import functions as F

    from mysql_data_quality_spark.functions.scripts import (
        script_distribution,
    )
    from mysql_data_quality_spark.operators.dedup import normalized_text_col
    from mysql_data_quality_spark.operators.skew import domain_stats
    from mysql_data_quality_spark.operators.textstats import (
        language_distribution,
        token_length_histogram,
    )

    with _Session(args.cores) as spark:
        pages = _read_pages(spark, args).cache()
        h = F.md5(normalized_text_col(F.col("text")))
        distinct = (
            F.approx_count_distinct(h)
            if args.approx
            else F.count_distinct(h)
        )
        head = pages.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.length(F.coalesce(F.col("text"), F.lit("")))
            ).alias("total_chars"),
            distinct.alias("distinct_texts"),
        ).collect()[0]
        n_docs = head["n_docs"]
        # the HLL estimate can overshoot n_docs (~5% rsd) on a near-
        # duplicate-free corpus; clamp so the approx path never reports
        # distinct_texts > n_docs or a negative duplicate_fraction
        distinct_texts = min(head["distinct_texts"], n_docs)
        report = {
            "n_docs": n_docs,
            "total_chars": head["total_chars"] or 0,
            "distinct_texts": distinct_texts,
            "duplicate_fraction": (
                round(1.0 - distinct_texts / n_docs, 6) if n_docs else 0.0
            ),
            "distinct_mode": "approx_hll" if args.approx else "exact",
            "token_length_histogram": {
                r["bucket"]: {
                    "n_docs": r["n_docs"],
                    "total_tokens": r["total_tokens"],
                }
                for r in token_length_histogram(pages).collect()
            },
            "language_distribution": {
                r["det_lang"]: r["n_docs"]
                for r in language_distribution(pages).collect()
            },
            "script_distribution": {
                r["dominant_script"]: r["n_docs"]
                for r in script_distribution(pages).collect()
            },
            "top_domains": [
                {
                    "domain": r["domain"],
                    "n_docs": r["n_docs"],
                    "total_chars": r["total_chars"],
                }
                for r in domain_stats(pages)
                .orderBy(F.desc("n_docs"), "domain")
                .limit(args.top_domains)
                .collect()
            ],
        }
        if args.bpe_model:
            # learned-token accounting (train-bpe model): the corpus
            # budget in REAL subword tokens, not the regex estimate
            from mysql_data_quality_spark.functions.bpe import (
                load_model,
                token_count_udf,
            )

            counter = token_count_udf(load_model(args.bpe_model))
            tok = pages.agg(
                F.sum(counter(F.col("text"))).alias("_t")
            ).collect()[0]["_t"]
            report["bpe_total_tokens"] = int(tok or 0)
            report["bpe_tokens_per_doc"] = (
                round(tok / n_docs, 2) if n_docs and tok else 0.0
            )
        pages.unpersist()
        out = json.dumps(report)
        if args.output:
            p = Path(args.output)
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text(out)
        print(out)
        return 0


def cmd_train_bpe(args) -> int:
    """Learn a BPE merge table from the corpus (functions/bpe.py):
    bounded distributed word counts -> driver-side merge loop -> JSON.
    Score token counts with ``bpe.token_count_udf(model)`` — the
    learned-vocabulary upgrade of the BPE-ish regex estimate."""
    from mysql_data_quality_spark.functions.bpe import train_bpe

    with _Session(args.cores) as spark:
        pages = _read_pages(spark, args)
        model = train_bpe(
            pages, num_merges=args.merges, max_rows=args.max_rows
        )
        out = Path(args.output)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(model, sort_keys=True))
        print(
            json.dumps(
                {
                    "weights_file": str(out),
                    "n_merges": len(model["merges"]),
                }
            )
        )
        return 0


def cmd_distill_langid(args) -> int:
    """Distill the marker-lexicon language detector into a trained
    fastText-style model (rules/langid_trained.py): hashed byte 1-3-gram
    features through MLlib multinomial LR, weights to JSON — inference
    is one numpy matmul per Arrow batch, no MLlib."""
    from mysql_data_quality_spark.rules.langid_trained import train_langid

    with _Session(args.cores) as spark:
        pages = _read_pages(spark, args)
        model = train_langid(
            pages, dim=args.dim, max_rows=args.max_rows
        )
        out = Path(args.output)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(model, sort_keys=True))
        print(
            json.dumps(
                {
                    "weights_file": str(out),
                    "dim": model["dim"],
                    "labels": model["labels"],
                }
            )
        )
        return 0


def cmd_distill(args) -> int:
    """Distill the rule registry into a logistic-regression quality
    classifier: train on the engine's own keep/drop verdicts over the
    given corpus and write the weights as JSON.  Scoring then needs only
    ``operators.classifier.score_col(weights)`` — pure Column math, no
    MLlib at inference."""
    from mysql_data_quality_spark.core.config import (
        load_dotenv,
        rules_from_env,
    )
    from mysql_data_quality_spark.operators.classifier import (
        distill_quality_classifier,
    )
    from mysql_data_quality_spark.rules.heuristics import profile_rules

    load_dotenv()
    rules = rules_from_env(base=profile_rules(args.profile))
    with _Session(args.cores) as spark:
        pages = _read_pages(spark, args)
        weights = distill_quality_classifier(pages, rules=rules)
        out = Path(args.output)
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(weights, indent=2, sort_keys=True))
        print(
            json.dumps(
                {
                    "weights_file": str(out),
                    "n_features": len(weights["weights"]),
                    "intercept": weights["intercept"],
                }
            )
        )
        return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="mysql_data_quality_spark")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="command", required=True)

    v = sub.add_parser("validate", help="run validators on a table")
    v.add_argument("table")
    v.add_argument("--validators", nargs="*", default=None)
    v.add_argument("--sample-size", "-s", type=int, default=10000)
    v.add_argument(
        "--report-format",
        "-r",
        action="append",
        choices=sorted(_VALIDATE_FORMATS),
        default=None,
        help="report format(s) to write (repeatable); at least a summary "
        "report is always written (reference cli.py:290-299)",
    )
    v.add_argument(
        "--output-dir",
        "-o",
        default="logs",
        help="report output directory (reference default: logs)",
    )
    v.set_defaults(fn=cmd_validate)

    a = sub.add_parser("analyze", help="full analysis + reports")
    a.add_argument("table")
    a.add_argument("--sample-size", type=int, default=10000)
    a.add_argument("--output-dir", default="reports")
    a.add_argument("--formats", nargs="*", default=["json", "txt"])
    a.set_defaults(fn=cmd_analyze)

    lt = sub.add_parser("list-tables", help="list parquet tables + counts")
    lt.add_argument("directory")
    lt.set_defaults(fn=cmd_list_tables)

    dt = sub.add_parser(
        "describe-table", help="table structure: columns, types, count"
    )
    dt.add_argument("table", help="parquet path, or table name with --jdbc-url")
    dt.add_argument("--jdbc-url", default=None)
    dt.set_defaults(fn=cmd_describe_table)

    tc = sub.add_parser("test-connection", help="probe a JDBC connection")
    tc.add_argument("--url", default=None, help="JDBC url (else DB_* env)")
    tc.add_argument("--driver", default=None, help="JDBC driver class")
    tc.add_argument(
        "--probe-query",
        default="SELECT 1 AS ok",
        help="probe statement (dialect-specific; see --help text)",
    )
    tc.set_defaults(fn=cmd_test_connection)

    f = sub.add_parser("filter", help="run the quality-filter pipeline")
    src = f.add_mutually_exclusive_group(required=True)
    src.add_argument("--input")
    src.add_argument("--documents")
    src.add_argument(
        "--input-warc",
        metavar="DIR",
        help="ingest raw .warc/.warc.gz crawl files (ISO 28500; plain "
        "or Common-Crawl per-record gzip members); implies "
        "--extract-html (text comes from the response html payloads)",
    )
    src.add_argument(
        "--input-wet",
        metavar="DIR",
        help="ingest Common-Crawl WET files (conversion records: the "
        "crawl's own extracted text, so no html extraction runs)",
    )
    f.add_argument("--output", required=True)
    f.add_argument("--buckets", type=int, default=16)
    f.add_argument("--group-size", type=int, default=4)
    f.add_argument(
        "--resume",
        action="store_true",
        help="continue into an --output that already has lineage, "
        "skipping its completed buckets (without it such a run exits 2)",
    )
    f.add_argument(
        "--dedup",
        action="store_true",
        help="exact-dedup the corpus (one doc per normalized text, "
        "representative per --dedup-keep) before filtering",
    )
    f.add_argument(
        "--dedup-keep",
        choices=["min_id", "longest", "newest"],
        default="min_id",
        help="with --dedup / --dedup-history: which duplicate wins — "
        "smallest url (min_id), longest raw text, or latest warc_ts "
        "(newest; the re-crawl policy)",
    )
    f.add_argument(
        "--dedup-history",
        default=None,
        metavar="DIR",
        help="cross-run incremental dedup: drop documents whose text "
        "hash is in this history dir; commit this run's hashes after "
        "the write completes",
    )
    f.add_argument(
        "--arpa-model",
        default=None,
        metavar="PATH",
        help="score perplexity with a real ARPA n-gram model (KenLM "
        "format) instead of the built-in unigram stand-in; tune "
        "DQS_RULE_MIN_AVG_LOGP to the model's scale",
    )
    f.add_argument(
        "--history-bloom",
        action="store_true",
        help="with --dedup-history / --near-history: broadcast a bloom "
        "of this batch's hashes (text md5s / LSH band hashes) to "
        "prefilter the history scan map-side before the join (exact "
        "results; shuffle drops from O(history) to "
        "O(matches + fpp*history) — for histories much larger than "
        "the batch)",
    )
    f.add_argument(
        "--langid-model",
        default=None,
        metavar="PATH",
        help="detect language with a trained fastText-style model "
        "(weights JSON from 'distill-langid') instead of the built-in "
        "marker lexicon",
    )
    f.add_argument(
        "--profile",
        choices=["default", "full"],
        default="default",
        help="rule profile: 'default' (round-1 golden-stable set) or "
        "'full' (every Gopher/C4 rule decides); DQS_RULE_* env "
        "overrides apply on top",
    )
    f.add_argument(
        "--dedup-near",
        choices=["minhash", "fingerprint"],
        default=None,
        help="fuzzy-dedup the corpus before filtering: candidate pairs "
        "(minhash = banded LSH on shingles; fingerprint = shared "
        "winnowing fingerprints) -> connected components -> keep the "
        "smallest url per cluster; composes after --dedup/--dedup-history",
    )
    f.add_argument(
        "--near-threshold",
        type=float,
        default=0.5,
        help="minhash signature-agreement threshold (with --dedup-near "
        "minhash)",
    )
    f.add_argument(
        "--near-star-edges",
        action="store_true",
        help="with --dedup-near minhash: emit linear bucket-min<->member "
        "LSH edges instead of all in-bucket pairs — same connected "
        "components for template families at a fraction of the pair "
        "volume; recommended at web scale (the clustering consumer only "
        "needs connectivity)",
    )
    f.add_argument(
        "--near-min-shared",
        type=int,
        default=3,
        help="minimum shared winnowing fingerprints (with --dedup-near "
        "fingerprint)",
    )
    f.add_argument(
        "--blocklist",
        default=None,
        metavar="FILE",
        help="drop pages whose host is (or is under) a blocked domain "
        "before any other stage: UT1-style text file (one domain per "
        "line, # comments) or parquet with a 'domain' column",
    )
    f.add_argument(
        "--fix-mojibake",
        action="store_true",
        help="repair utf-8-read-as-cp1252 mojibake ('Ã©' -> 'é', up to "
        "two nested layers) before normalization; a repair is applied "
        "only when the byte round-trip is a perfect inverse, so clean "
        "text is never altered",
    )
    f.add_argument(
        "--normalize-text",
        choices=["nfc", "nfkc"],
        default=None,
        help="Unicode-normalize text (+ strip control/zero-width chars) "
        "before any dedup stage: nfc = canonical (cross-engine oracle), "
        "nfkc = compatibility fold (ligatures/fullwidth -> ASCII)",
    )
    f.add_argument(
        "--dedup-lines",
        action="store_true",
        help="within-document repeated-line removal (RefinedWeb "
        "line-wise correction): repeated non-blank lines collapse to "
        "their first occurrence; blank lines and paragraph structure "
        "survive",
    )
    f.add_argument(
        "--dedup-paragraph",
        action="store_true",
        help="CCNet-style paragraph-level dedup before the filter: each "
        "distinct (trimmed) paragraph survives once corpus-wide, "
        "documents are rebuilt from their kept paragraphs, documents "
        "losing every paragraph are dropped",
    )
    f.add_argument(
        "--extract-html",
        action="store_true",
        help="fill missing text from the raw html payload (regex "
        "visible-text extraction, pure Column exprs) before the rules",
    )
    f.add_argument(
        "--drop-noindex",
        action="store_true",
        help="drop pages whose html carries a robots noindex meta tag "
        "(site-owner opt-out; rows without html are kept)",
    )
    f.add_argument(
        "--decontaminate",
        default=None,
        metavar="EVAL_PARQUET",
        help="drop documents sharing any word n-gram with this held-out "
        "eval set (parquet with a text column) — benchmark leakage "
        "hygiene; the eval gram set broadcasts",
    )
    f.add_argument(
        "--decontaminate-ngram",
        type=int,
        default=13,
        help="n-gram size for --decontaminate (13 = the GPT-3 recipe)",
    )
    f.add_argument(
        "--decontaminate-fuzzy",
        type=float,
        default=None,
        metavar="JACCARD",
        help="with --decontaminate: ALSO drop documents whose minhash "
        "signature agreement with any eval document reaches this "
        "threshold (catches paraphrased leaks exact n-grams miss)",
    )
    f.add_argument(
        "--near-history",
        default=None,
        metavar="DIR",
        help="cross-run NEAR-dup dedup: drop documents whose minhash LSH "
        "band hashes collide with any previously-kept document; band "
        "rows append to DIR after the write commits (fuzzy analogue of "
        "--dedup-history; geometry pinned per dir). Subsumes "
        "--dedup-near minhash for the within-batch pass",
    )
    f.add_argument(
        "--dedup-semantic",
        type=float,
        default=None,
        metavar="COSINE",
        help="SemDeDup stage: drop all but one page per cluster of "
        "embedding-space near-duplicates (cosine >= COSINE); needs "
        "--semantic-embeddings; runs after the text-level dedup stages",
    )
    f.add_argument(
        "--semantic-history",
        default=None,
        metavar="DIR",
        help="cross-run SemDeDup: drop docs whose embedding collides "
        "with any previously-kept doc's hyperplane-LSH bucket; commit "
        "this run's buckets after the write (requires "
        "--semantic-embeddings; subsumes --dedup-semantic within-batch)",
    )
    f.add_argument(
        "--semantic-embeddings",
        default=None,
        metavar="PARQUET",
        help="parquet mapping url -> embedding (array<float>) for "
        "--dedup-semantic; pages without an embedding are kept",
    )
    f.add_argument(
        "--semantic-dim",
        type=int,
        default=None,
        help="embedding dimensionality (default: inferred from the "
        "first embedding row)",
    )
    f.add_argument(
        "--dsir-target",
        default=None,
        metavar="PARQUET",
        help="DSIR data selection: importance-resample the corpus "
        "toward this in-domain sample (parquet with a 'text' column); "
        "hashed unigram+bigram importance weights, deterministic "
        "Bernoulli keep — expected keep fraction = --dsir-rate with "
        "target-like pages oversampled",
    )
    f.add_argument(
        "--dsir-rate",
        type=float,
        default=0.5,
        help="target keep fraction for --dsir-target (default 0.5)",
    )
    f.add_argument(
        "--dsir-temperature",
        type=float,
        default=1.0,
        help="DSIR weight temperature: >1 flattens the preference, "
        "<1 sharpens it",
    )
    f.add_argument(
        "--domain-threshold",
        type=float,
        default=None,
        metavar="RATE",
        help="drop WHOLE domains whose page keep-rate under the rule "
        "registry is below RATE (RefinedWeb-style site-level admission; "
        "includes the domain's individually-passing pages). With "
        "--dedup-history/--near-history, only domain-SURVIVORS commit "
        "to history: domain keep-rate is corpus-relative, so a doc "
        "dropped solely by this stage is re-judged on redelivery "
        "instead of being suppressed forever",
    )
    f.add_argument(
        "--domain-min-docs",
        type=int,
        default=5,
        help="evidence floor for --domain-threshold: domains with fewer "
        "documents are never dropped",
    )
    f.set_defaults(fn=cmd_filter)

    s = sub.add_parser(
        "stream-filter",
        help="incremental (availableNow) streaming quality filter",
    )
    s.add_argument("--input-dir", required=True,
                   help="directory receiving page parquet drops")
    s.add_argument("--output", required=True,
                   help="decisions sink (parquet, partitioned by batch_id)")
    s.add_argument("--checkpoint", required=True,
                   help="streaming checkpoint dir (the resume point)")
    s.add_argument("--dedup", action="store_true",
                   help="first-seen-url dedup before the filter")
    s.add_argument(
        "--files-per-trigger", type=int, default=16,
        help="files per micro-batch (default 16; the per-batch floor is "
        "fixed — engine+checkpoint, plan analysis, sink commit — so size "
        "triggers for SECONDS of compute per batch; lower only when "
        "per-batch latency matters more than throughput)",
    )
    s.add_argument(
        "--langid-model", default=None, metavar="PATH",
        help="trained langid weights (distill-langid) — same hook as "
        "the batch filter, so stream and batch score identically",
    )
    s.add_argument(
        "--arpa-model", default=None, metavar="PATH",
        help="ARPA n-gram LM for perplexity — same hook as the batch "
        "filter",
    )
    s.set_defaults(fn=cmd_stream_filter)

    sm = sub.add_parser(
        "stream-metrics",
        help="event-time windowed rule-hit metrics over a drop directory",
    )
    sm.add_argument("--input-dir", required=True)
    sm.add_argument("--output", required=True,
                    help="parquet metrics table (window_start, per-rule "
                    "counts)")
    sm.add_argument("--checkpoint", required=True)
    sm.add_argument("--window", default="1 hour")
    sm.add_argument("--watermark", default="2 hours")
    sm.set_defaults(fn=cmd_stream_metrics)

    ch = sub.add_parser(
        "compact-history",
        help="fold a cross-run dedup history's run dirs into one "
        "distinct-key run",
    )
    ch.add_argument("history_dir")
    ch.set_defaults(fn=cmd_compact_history)

    cs = sub.add_parser(
        "corpus-stats",
        help="one-pass corpus profile: volumetry, dup rate, token/lang/"
        "script distributions, top domains",
    )
    cssrc = cs.add_mutually_exclusive_group(required=True)
    cssrc.add_argument("--input")
    cssrc.add_argument("--documents")
    cs.add_argument("--output", default=None,
                    help="also write the JSON report to this path")
    cs.add_argument("--top-domains", type=int, default=20)
    cs.add_argument(
        "--bpe-model",
        default=None,
        metavar="PATH",
        help="also report total/per-doc token counts with a trained "
        "BPE model (train-bpe output)",
    )
    cs.add_argument(
        "--approx",
        action="store_true",
        help="HLL approx_count_distinct for the distinct-text count "
        "(the 10^12-row path; exact by default)",
    )
    cs.set_defaults(fn=cmd_corpus_stats)

    di = sub.add_parser(
        "distill",
        help="train a quality classifier on the rule verdicts and write "
        "its weights JSON (inference is pure Column math)",
    )
    dsrc = di.add_mutually_exclusive_group(required=True)
    dsrc.add_argument("--input")
    dsrc.add_argument("--documents")
    di.add_argument("--output", required=True,
                    help="weights JSON path")
    di.add_argument(
        "--profile", choices=["default", "full"], default="default",
        help="rule profile supplying the training labels",
    )
    di.set_defaults(fn=cmd_distill)

    dl = sub.add_parser(
        "distill-langid",
        help="train a fastText-style language-ID model (hashed char "
        "n-grams -> multinomial LR) distilled from the marker-lexicon "
        "detector and write its weights JSON",
    )
    dlsrc = dl.add_mutually_exclusive_group(required=True)
    dlsrc.add_argument("--input")
    dlsrc.add_argument("--documents")
    dl.add_argument("--output", required=True, help="weights JSON path")
    dl.add_argument(
        "--dim", type=int, default=2048,
        help="hashed feature dimension (default 2048)",
    )
    dl.add_argument(
        "--max-rows", type=int, default=200_000,
        help="training-set cap (deterministic hash sample above this)",
    )
    dl.set_defaults(fn=cmd_distill_langid)

    tb = sub.add_parser(
        "train-bpe",
        help="learn a BPE merge table (Sennrich subword units) from "
        "the corpus and write it as JSON; use with "
        "functions.bpe.token_count_udf for learned token counts",
    )
    tbsrc = tb.add_mutually_exclusive_group(required=True)
    tbsrc.add_argument("--input")
    tbsrc.add_argument("--documents")
    tb.add_argument("--output", required=True, help="model JSON path")
    tb.add_argument(
        "--merges", type=int, default=4000,
        help="number of BPE merges to learn (default 4000)",
    )
    tb.add_argument(
        "--max-rows", type=int, default=100_000,
        help="training-set cap (deterministic hash sample above this)",
    )
    tb.set_defaults(fn=cmd_train_bpe)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
