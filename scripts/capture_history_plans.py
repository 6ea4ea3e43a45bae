#!/usr/bin/env python
"""Capture the executed plans of the cross-run history probes (exact and
near, plain and bloom) and of ``dedup_exact_corpus``, with expression
ids, plan ids and input paths normalized, into one text file
(plans/history_probe_after.txt).

Each probe frame is the history store's unpinned probe frame, persisted
DISK_ONLY and counted before its plan is read — the same shape as the
``pin="disk"`` result the before-file was captured from.  Histories are
built from the even doc ids; the probe batch is every document.

Usage: python scripts/capture_history_plans.py <documents_dir> <out.txt>
"""
from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _plan(df) -> str:
    df.persist(StorageLevel.DISK_ONLY).count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"\b([a-z])_\d+\b", r"\1_N", plan)
    plan = re.sub(r"pythonUDF\d+", "pythonUDFN", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"\[file:[^\]]*\]", "[<input>]", plan)


def main() -> None:
    docs_dir, out_path = sys.argv[1], sys.argv[2]
    from mysql_data_quality_spark.core.session import get_spark
    from mysql_data_quality_spark.operators import dedup as D
    from mysql_data_quality_spark.operators.history import HistoryStore

    spark = get_spark(app_name="history-plans", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{docs_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tmp = tempfile.mkdtemp()
    eh, nh = f"{tmp}/eh", f"{tmp}/nh"
    old = docs.where(F.col("doc_id") % 2 == 0)
    D.dedup_against_history(old, "doc_id", "text", eh)
    D.near_dedup_against_history(old, "doc_id", "text", nh)

    def exact(prefilter):
        # the key builder of D.dedup_against_history
        hashed = D.dedup_exact_corpus(docs, "doc_id", "text").withColumn(
            "text_md5", F.md5(D.normalized_text_col(F.col("text")))
        )
        if prefilter == "bloom":
            hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        store = HistoryStore(spark, eh, ("text_md5",))
        return store.probe(hashed, prefilter=prefilter)

    def near(prefilter):
        # the key builder of D.near_dedup_against_history
        sigs = D.minhash_signatures(docs, "doc_id", "text", 3, 32).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pairs = D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=8, threshold=0.5,
            sigs=sigs,
        )
        store = D._near_store(spark, nh, 3, 32, 8)
        return store.probe(
            D.band_rows(sigs, 32, 8), D.deduplicated_corpus(docs, pairs, "doc_id"),
            "doc_id", prefilter=prefilter,
        )

    sections = [
        ("dedup_against_history (plain probe)", lambda: exact("none")),
        ("near_dedup_against_history (plain probe)", lambda: near("none")),
        ("dedup_exact_corpus", lambda: D.dedup_exact_corpus(docs, "doc_id", "text")),
        ("dedup_against_history (bloom probe)", lambda: exact("bloom")),
        ("near_dedup_against_history (bloom probe)", lambda: near("bloom")),
    ]
    with open(out_path, "w") as f:
        f.write("\n\n".join(f"== {name} ==\n{_plan(build())}"
                            for name, build in sections) + "\n")
    spark.stop()
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
