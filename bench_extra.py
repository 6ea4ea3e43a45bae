#!/usr/bin/env python
"""Per-operator isolation benchmarks (guide §1.4): times individual bench
lines with the noop sink in a fresh session, without the full bench.py
session around them.  NOT the driver's bench — bench.py is frozen for
measurement; this exists so optimization work can isolate one line,
re-measure it quickly, and record honest before/after numbers in
OPTIMIZATION_r07.md.

Usage: python bench_extra.py [line ...]   (default: all lines)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     BENCH_EXTRA_REPEAT (default 1).
"""
from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def noop(df) -> None:
    """Eagerly compute every column of every row, discard (guide §1.4)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                               len(os.sched_getaffinity(0))))
    repeat = int(os.environ.get("BENCH_EXTRA_REPEAT", "1"))

    from mysql_data_quality_spark.core.session import get_spark

    spark = get_spark(
        app_name="bench-extra", cores=cores,
        shuffle_partitions=max(cores * 2, 16),
    )
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    import bench as B
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

    pages = B.bench_pages(spark, sf_dir)
    pages.cache()
    n_docs = pages.count()

    def _decon():
        ev = docs.where(F.col("doc_id") % 97 == 0).select(
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 5, 20), " "
            ).alias("text")
        )
        noop(
            DC.decontaminated_corpus(
                pages, ev, n=13, corpus_id="url", corpus_text="text"
            ).select("url")
        )

    def _dsir():
        tgt = docs.where(F.col("doc_id") % 37 == 0).select("text")
        out = DSIR.dsir_resample(
            pages, tgt, "url", rate=0.5, raw_sample_fraction=0.25
        )
        noop(out.select("url"))
        out._persisted_weights.unpersist()

    def _fp_pairs():
        out = textstats.fingerprint_duplicate_pairs(
            docs, "doc_id", "text", k=8, w=8, min_shared=3
        )
        noop(out)
        out._persisted_prints.unpersist()

    def _minhash():
        out = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=8
        )
        noop(out)
        if hasattr(out, "_persisted_sigs"):
            out._persisted_sigs.unpersist()

    def _langid_fit():
        B._bench_langid_model(spark)

    def _cls_fit():
        raw = P.pages_from_documents(docs)
        CLS.distill_quality_classifier(raw)

    def _metrics():
        QF.metrics(QF.annotate(pages))

    def _observed():
        observed, obs = QF.observe_metrics(QF.annotate(pages))
        noop(observed.select(*QF.DECISION_COLS))
        assert obs.get["_total"] > 0

    def _stream():
        sec, nb, sec16 = B._bench_stream_filter(spark, pages)
        print(f"  stream: {sec} ({nb} batches), fpt16: {sec16}",
              file=sys.stderr)

    lines = {
        "qf_pipeline": lambda: noop(QF.decisions(pages)),
        "qf_metrics": _metrics,
        "qf_observed": _observed,
        "stream_filter": _stream,
        "winnowing_fingerprints": lambda: noop(
            textstats.winnowing_fingerprints(docs, "doc_id", "text")
        ),
        "fingerprint_dup_pairs": _fp_pairs,
        "minhash_lsh": _minhash,
        "jaccard_pairs": lambda: noop(
            dedup.shingle_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.6
            )
        ),
        "simhash_pairs": lambda: noop(
            dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)
        ),
        "decontaminate": _decon,
        "dsir_resample": _dsir,
        "langid_distill": _langid_fit,
        "classifier_distill": _cls_fit,
        "duplicate_clusters_chain": lambda: noop(
            dedup.duplicate_clusters(
                spark.range(20000).select(
                    F.col("id").alias("doc_a"),
                    (F.col("id") + 1).alias("doc_b"),
                )
            )
        ),
        "semantic_dedup_sf01raw": lambda: noop(
            dedup.semantic_dedup_corpus(
                emb.select("vec_id"), emb, "vec_id", dim=64, threshold=0.9
            )
        ),
    }
    out: dict[str, list] = {}
    for name, fn in lines.items():
        if only and name not in only:
            continue
        samples = []
        for _ in range(repeat):
            sc.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            fn()
            samples.append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
        out[name] = samples
        print(f"{name}: {samples}", file=sys.stderr)
    print(json.dumps({"n_docs": n_docs, "lines": out}))
    spark.stop()


if __name__ == "__main__":
    main()
