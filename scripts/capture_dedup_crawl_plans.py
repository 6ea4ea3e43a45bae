#!/usr/bin/env python
"""Capture every executed SQL plan of two runs into one text file:

* the ``dedup_crawl`` body of ``perfbench`` (``dedup_exact_corpus``, then
  ``minhash_lsh_pairs``, then ``deduplicated_corpus``, then the rule plan
  written by ``CheckpointedWriter``), with ``cli filter``'s defaults;
* one ``start_filter_stream(dedup=True)`` run over one page drop, i.e. one
  micro-batch.

Plans are read from the session's SQL status store after each run, in
execution order, each headed by the number of Spark jobs it ran, with
expression ids, plan ids, RDD ids and input paths normalized, so two
trees that build the same plans give identical files.
Adaptive execution is off for the capture: it re-plans joins and numbers
operators by the order in which stages happen to finish, so its final
plans differ between runs of the same code.

Usage: python scripts/capture_dedup_crawl_plans.py <documents_dir> <out.txt>
"""
from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(plan: str, tmp: str) -> str:
    plan = plan.replace(tmp, "<tmp>")
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"\b([a-z])_\d+\b", r"\1_N", plan)
    plan = re.sub(r"pythonUDF\d+", "pythonUDFN", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"(\w*RDD)\[\d+\]", r"\1[N]", plan)
    plan = re.sub(r"runId = [0-9a-f-]+", "runId = N", plan)
    plan = re.sub(r"(operatorId|stateVersion|numPartitions)\s*=\s*\d+",
                  r"\1=N", plan)
    plan = re.sub(r"\[file:[^\]]*\]", "[<input>]", plan)
    return plan


def _executions(spark, seen: int,
                tmp: str) -> tuple[list[tuple[int, str]], int]:
    """(jobs, normalized plan) of every execution after the first
    ``seen``, and the execution count."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [
        (execs.apply(i).jobs().size(),
         _normalize(execs.apply(i).physicalPlanDescription(), tmp))
        for i in range(seen, execs.size())
    ]
    return plans, execs.size()


def main() -> None:
    docs_dir, out_path = sys.argv[1], sys.argv[2]
    from mysql_data_quality_spark.core.session import get_spark
    from mysql_data_quality_spark.operators import dedup as D
    from mysql_data_quality_spark.pipeline import pages as P
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.pipeline.checkpoint import CheckpointedWriter
    from mysql_data_quality_spark.rules.heuristics import profile_rules
    from mysql_data_quality_spark.streaming.incremental import (
        start_filter_stream,
    )

    spark = get_spark(app_name="dedup-crawl-plans", cores=4,
                      shuffle_partitions=4,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    tmp = tempfile.mkdtemp()
    P.read_pages(spark, docs_dir).repartition(4).write.parquet(f"{tmp}/pages")
    P.read_pages(spark, docs_dir).coalesce(1).write.parquet(f"{tmp}/drops")
    _, seen = _executions(spark, 0, tmp)

    rules = profile_rules("default")
    pages = D.dedup_exact_corpus(spark.read.parquet(f"{tmp}/pages"),
                                 "url", "text")
    pairs = D.minhash_lsh_pairs(pages, "url", "text", k=3, num_hashes=32,
                                bands=8, threshold=0.5)
    pages = D.deduplicated_corpus(pages, pairs, "url")
    observed, _ = QF.observe_metrics(QF.annotate(pages, rules=rules),
                                     rules=rules)
    CheckpointedWriter(f"{tmp}/out", n_buckets=16).run(
        observed.select(*QF.DECISION_COLS), group_size=4
    )
    pairs._persisted_sigs.unpersist()
    batch, seen = _executions(spark, seen, tmp)

    query = start_filter_stream(spark, f"{tmp}/drops", f"{tmp}/decisions",
                                f"{tmp}/ckpt", dedup=True)
    query.awaitTermination()
    stream, _ = _executions(spark, seen, tmp)

    sections = [(f"dedup_crawl execution {i} ({j} jobs)", p)
                for i, (j, p) in enumerate(batch)]
    sections += [(f"start_filter_stream execution {i} ({j} jobs)", p)
                 for i, (j, p) in enumerate(stream)]
    with open(out_path, "w") as f:
        f.write("\n\n".join(f"== {name} ==\n{plan}"
                            for name, plan in sections) + "\n")
    spark.stop()
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
