#!/usr/bin/env python
"""spark-submit entry point for the quality-filter pipeline.

Cluster launch (the north-star deployment shape)::

    make zip   # deterministic dist/mysql_data_quality_spark.zip
    spark-submit --py-files dist/mysql_data_quality_spark.zip \
        scripts/run_pipeline.py \
        --input  /path/to/pages_parquet \
        --output /path/to/out \
        --buckets 64 --group-size 8 [--resume] [--arrow-udfs]

Local smoke (this sandbox)::

    python scripts/run_pipeline.py --documents /root/testdata/sf0.001 \
        --output /tmp/qf_out --buckets 8

Writes: bucket-partitioned decisions parquet + per-bucket lineage +
rule-metrics JSON report.  Re-running with ``--resume`` skips completed
buckets (idempotent; see pipeline/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# allow running without --py-files when the repo root is the cwd
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet dir (url, warc_ts, html, text, lang)")
    src.add_argument("--documents", help="documents sf dir -> synthesize pages")
    src.add_argument("--input-warc",
                     help="raw .warc/.warc.gz crawl files (batch only; "
                     "text extracted from the response html payloads)")
    src.add_argument("--input-wet",
                     help="Common-Crawl WET files (conversion records: "
                     "the crawl's own extracted text; batch only)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--group-size", type=int, default=8)
    ap.add_argument("--resume", action="store_true",
                    help="skip buckets already recorded in lineage")
    ap.add_argument("--arrow-udfs", action="store_true",
                    help="score langid/perplexity via Arrow pandas UDFs")
    ap.add_argument("--dedup", action="store_true",
                    help="dedup before filtering; batch mode: exact-dedup "
                    "(keep smallest url per normalized text); with "
                    "--stream: FIRST-SEEN-URL dedup across micro-batches "
                    "(a stream has no corpus-wide text view — see "
                    "streaming/incremental.start_filter_stream)")
    ap.add_argument("--stream", action="store_true",
                    help="run incrementally via Structured Streaming "
                    "(availableNow): --input is a drop directory, only "
                    "files newer than the --checkpoint are processed")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (required with --stream)")
    ap.add_argument("--dedup-history", default=None, metavar="DIR",
                    help="cross-run incremental dedup: drop documents "
                    "whose text hash is in this history dir; commit this "
                    "run's hashes after the write completes (batch only)")
    ap.add_argument("--near-history", default=None, metavar="DIR",
                    help="cross-run NEAR-dup dedup: minhash within-batch "
                    "dedup, then drop docs whose LSH band hashes collide "
                    "with any previously-kept doc; band rows commit after "
                    "the write completes (batch only)")
    ap.add_argument("--history-bloom", action="store_true",
                    help="with --dedup-history/--near-history: bloom "
                    "prefilter of the history scan (exact results)")
    ap.add_argument("--semantic-history", default=None, metavar="DIR",
                    help="cross-run SemDeDup vs a hyperplane-bucket "
                    "history (requires --semantic-embeddings)")
    ap.add_argument("--semantic-embeddings", default=None, metavar="PARQUET",
                    help="url -> embedding mapping for --semantic-history")
    ap.add_argument("--domain-threshold", type=float, default=None,
                    metavar="RATE",
                    help="drop WHOLE domains whose keep-rate under the "
                    "rule registry is below RATE (batch only)")
    ap.add_argument("--domain-min-docs", type=int, default=5)
    ap.add_argument("--langid-model", default=None, metavar="PATH",
                    help="trained fastText-style langid weights JSON "
                    "(cli distill-langid) replacing the marker lexicon")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()
    if args.stream and not (args.input and args.checkpoint):
        ap.error("--stream requires --input and --checkpoint")
    if args.stream and args.dedup_history:
        ap.error("--dedup-history is batch-only (a stream has no "
                 "corpus-snapshot boundary to commit a history run at); "
                 "use --dedup for first-seen-url dedup instead")
    if args.stream and (args.near_history or args.domain_threshold
                        is not None):
        ap.error("--near-history/--domain-threshold are batch-only "
                 "(both need a corpus-snapshot view)")
    if args.semantic_history and not args.semantic_embeddings:
        ap.error("--semantic-history requires --semantic-embeddings")
    if args.history_bloom and not (args.dedup_history or args.near_history):
        ap.error("--history-bloom requires --dedup-history or "
                 "--near-history")

    from mysql_data_quality_spark.core.session import get_spark
    from mysql_data_quality_spark.pipeline import pages as P
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.pipeline.checkpoint import CheckpointedWriter
    from mysql_data_quality_spark.reports.summary import write_json_report

    spark = get_spark(app_name="quality-filter", cores=args.cores)
    try:
        if args.stream:
            # incremental deployment shape: same rule plan, file-source
            # checkpoint as the resume point (streaming/incremental.py)
            from mysql_data_quality_spark.streaming.incremental import (
                raise_progress_retention,
                start_filter_stream,
                stream_input_rows,
            )

            raise_progress_retention(spark)
            q = start_filter_stream(
                spark, args.input, args.output, args.checkpoint,
                dedup=args.dedup,
            )
            q.awaitTermination()
            n_rows, n_batches = stream_input_rows(q)
            print(json.dumps({
                "input_rows": n_rows,
                "batches": n_batches,
            }))
            return
        if getattr(args, "input_warc", None):
            # raw crawl ingestion: text filled from the html payloads
            from mysql_data_quality_spark.sources.warc import read_warc

            pages = P.pages_with_extracted_text(
                read_warc(spark, args.input_warc)
            )
        elif getattr(args, "input_wet", None):
            # WET ingestion: text arrives pre-extracted by the crawl
            from mysql_data_quality_spark.sources.warc import read_wet

            pages = read_wet(spark, args.input_wet)
        elif args.input:
            pages = spark.read.parquet(args.input)
        else:
            pages = P.read_pages(spark, args.documents)

        if args.dedup and not args.dedup_history:
            # skipped with --dedup-history: dedup_against_history runs
            # the identical within-batch dedup internally
            from mysql_data_quality_spark.operators.dedup import (
                dedup_exact_corpus,
            )

            pages = dedup_exact_corpus(pages, "url", "text")
        if args.dedup_history:
            from mysql_data_quality_spark.operators.dedup import (
                dedup_against_history,
            )

            pages = dedup_against_history(
                pages, "url", "text", args.dedup_history,
                update_history=False, keep_hash_col=True,
                history_prefilter=(
                    "bloom" if args.history_bloom else "none"
                ),
            )
            # commit_history must read THIS pinned probe frame, not the
            # output of later stages: history means "seen and decided"
            # (cli.py carries the same capture + rationale)
            hist_probe = pages
        if args.near_history:
            from mysql_data_quality_spark.operators.dedup import (
                near_dedup_against_history,
            )

            pages = near_dedup_against_history(
                pages, "url", "text", args.near_history,
                update_history=False,
                history_prefilter=(
                    "bloom" if args.history_bloom else "none"
                ),
            )
            near_probe = pages
        sem_probe = sem_emb = None
        sem_dim = None
        if args.semantic_history:
            from mysql_data_quality_spark.operators.dedup import (
                semantic_dedup_against_history,
            )

            sem_emb = spark.read.parquet(args.semantic_embeddings)
            row = sem_emb.selectExpr("size(embedding) as d").first()
            sem_dim = int(row["d"]) if row else None
            pages = semantic_dedup_against_history(
                pages, sem_emb, "url", args.semantic_history,
                dim=sem_dim, update_history=False,
            )
            sem_probe = pages
        if args.domain_threshold is not None:
            from mysql_data_quality_spark.operators.domains import (
                domain_quality_filtered,
            )

            # stats pass + final write both consume the upstream plan —
            # pin once so earlier stages execute once (skip when pages
            # is the raw scan or already pinned by near-history)
            # dedup_history/near_history pin internally; plain --dedup
            # does not
            if (args.dedup and not args.dedup_history
                    and not args.near_history
                    and not args.semantic_history):
                pages = pages.localCheckpoint()
            pages = domain_quality_filtered(
                pages, args.domain_threshold,
                min_docs=args.domain_min_docs,
            )
            if args.dedup_history or args.near_history or args.semantic_history:
                # domain keep-rate is corpus-relative, not a content
                # property: commit only domain-SURVIVORS so a doc dropped
                # solely by this run's domain stats is re-judged on
                # redelivery (same contract as cli.py, r5 ADVICE)
                survivors = pages.select("url")
                if args.dedup_history:
                    hist_probe = hist_probe.join(
                        survivors, "url", "left_semi"
                    )
                if args.near_history:
                    near_probe = near_probe.join(
                        survivors, "url", "left_semi"
                    )
                if args.semantic_history:
                    sem_probe = sem_probe.join(
                        survivors, "url", "left_semi"
                    )
        li_model = None
        if args.langid_model:
            from mysql_data_quality_spark.rules.langid_trained import (
                load_model,
            )

            li_model = load_model(args.langid_model)
        ann = QF.annotate(
            pages, use_arrow_udfs=args.arrow_udfs, langid_model=li_model
        )
        # rule-hit metrics ride the write pass via observe() — no second
        # pipeline execution (quality_filter.observe_metrics)
        observed, obs = QF.observe_metrics(ann)
        out_cols = list(QF.DECISION_COLS) + ["rule_hits"]
        decisions = observed.select(*out_cols)

        writer = CheckpointedWriter(args.output, n_buckets=args.buckets)
        if not args.resume and writer.completed_buckets():
            raise SystemExit(
                f"{args.output} has prior lineage; pass --resume to continue "
                "or point at a fresh directory"
            )
        stats = writer.run(decisions, group_size=args.group_size)

        out = {
            "buckets_written": stats["written"],
            "buckets_skipped": stats["skipped"],
            "input_scans": stats["input_scans"],
        }
        if stats["input_scans"] > 0:  # observation fired with the write job
            metrics = QF.metrics_from_observation(obs.get)
            report = write_json_report(
                metrics, "pages", Path(args.output) / "reports"
            )
            out["report"] = str(report)
        if args.dedup_history:
            # write (or verified resume) complete -> commit this run's
            # hashes from the pinned probe result (no input rescan)
            from mysql_data_quality_spark.operators.dedup import (
                commit_history,
            )

            commit_history(hist_probe, args.dedup_history)
            out["history_dir"] = args.dedup_history
        if args.near_history:
            from mysql_data_quality_spark.operators.dedup import (
                commit_near_history,
            )

            commit_near_history(
                near_probe, "url", "text", args.near_history
            )
            out["near_history_dir"] = args.near_history
        if args.semantic_history and sem_dim is not None:
            from mysql_data_quality_spark.operators.dedup import (
                commit_semantic_history,
            )

            commit_semantic_history(
                sem_probe, sem_emb, "url", args.semantic_history,
                dim=sem_dim,
            )
            out["semantic_history_dir"] = args.semantic_history
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
