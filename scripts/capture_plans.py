#!/usr/bin/env python
"""Capture .explain('formatted') output for the bench query paths into
plans/r07/<query>_<tag>.txt (OPTIMIZATION_r07 evidence).

Usage: python scripts/capture_plans.py <tag> [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r07",
    )
    os.makedirs(out_dir, exist_ok=True)

    from mysql_data_quality_spark.core.session import get_spark

    spark = get_spark(app_name="capture-plans", cores=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    from mysql_data_quality_spark.operators import (
        ann,
        classifier as CLS,
        decontaminate as DC,
        dedup,
        dsir as DSIR,
        textstats,
    )
    from mysql_data_quality_spark.pipeline import pages as P
    from mysql_data_quality_spark.pipeline import quality_filter as QF

    pages = P.pages_from_documents(docs)

    def _decon():
        ev = docs.where(F.col("doc_id") % 97 == 0).select(
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 5, 20), " "
            ).alias("text")
        )
        return DC.decontaminated_corpus(
            pages, ev, n=13, corpus_id="url", corpus_text="text"
        ).select("url")

    def _dsir():
        tgt = docs.where(F.col("doc_id") % 37 == 0).select("text")
        return DSIR.dsir_resample(
            pages, tgt, "url", rate=0.5, raw_sample_fraction=0.25
        ).select("url")

    def _metrics():
        from mysql_data_quality_spark.rules import heuristics

        sev = heuristics.all_rule_severities(None)
        return QF.annotate(pages).agg(*QF._metric_aggs(sev))

    builders = {
        "qf_pipeline": lambda: QF.decisions(pages),
        "qf_metrics": _metrics,
        "decontaminate": _decon,
        "dsir_resample": _dsir,
        "winnowing_fingerprints": lambda: textstats.winnowing_fingerprints(
            docs, "doc_id", "text"
        ),
        "fingerprint_dup_pairs": lambda: textstats.fingerprint_duplicate_pairs(
            docs, "doc_id", "text", k=8, w=8, min_shared=3
        ),
        "minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=8
        ),
        "jaccard_pairs": lambda: dedup.shingle_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.6
        ),
        "simhash_pairs": lambda: dedup.simhash_near_pairs(
            docs, "doc_id", "text", max_hamming=8
        ),
        "semantic_dedup": lambda: dedup.semantic_dedup_corpus(
            emb.select("vec_id"), emb, "vec_id", dim=64, threshold=0.9
        ),
        "lsh_near_pairs": lambda: ann.lsh_near_pairs(
            emb, dim=64, threshold=0.4
        ),
        "classifier_score": lambda: CLS.scored_corpus(
            pages,
            {
                "intercept": 0.1,
                "weights": {c: 0.1 for c in CLS.feature_cols()},
            },
        ).select("url", "quality_prob"),
        "qf_dedup_pipeline": lambda: QF.decisions(
            dedup.dedup_exact_corpus(pages, "url", "text")
        ),
        "dedup_exact": lambda: dedup.exact_duplicate_groups(
            pages, "url", "text", group_size_bound=1000
        ),
        "duplicate_clusters_round": lambda: dedup._small_star(
            dedup._large_star(
                spark.range(1000).select(
                    F.col("id").alias("src"),
                    (F.col("id") + 1).alias("dst"),
                )
            )
        ),
    }
    for name, build in builders.items():
        if only and name not in only:
            continue
        df = build()
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path, len(txt), "bytes")
    spark.stop()


if __name__ == "__main__":
    main()
