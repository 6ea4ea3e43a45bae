"""Structured-Streaming incremental ingestion for the quality filter.

The reference is batch-only (SURVEY.md §2.7); the north rule's pipeline is
resumable checkpointed batch.  This module adds the *optional* streaming
surface: new page files land in a directory → the SAME rule plan
(:func:`quality_filter.annotate`) is applied incrementally → decisions land
in a ``batch_id``-partitioned table via ``foreachBatch``.

``foreachBatch`` is only *at-least-once*: a crash between the sink write
and the streaming checkpoint commit replays the whole micro-batch.  The
writer is therefore made idempotent by partitioning on ``batch_id`` with
dynamic partition overwrite — a replayed batch rewrites exactly its own
partition instead of appending duplicates, so the end-to-end result is
effectively exactly-once.

Because ``annotate`` is a pure per-row map, the streaming and batch paths
produce byte-identical decisions for identical input rows — the batch tests
are the semantics oracle; the streaming test checks stream==batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mysql_data_quality_spark.pipeline import quality_filter as QF

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def stream_pages(
    spark: SparkSession, input_dir: str, files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of pages parquet drops (schema pinned — streaming
    sources must not infer).

    ``files_per_trigger`` sizes the micro-batch.  Each micro-batch pays
    a fixed floor regardless of rows.  Measured on a 4-core host
    (local[4]), a traced ``stream_drops`` run of ``perfbench`` (three
    micro-batches of 16 drops x 100 pages, ``dedup=True``), medians of
    ``recentProgress[*].durationMs``: ``triggerExecution`` 2.35 s, of
    which ``addBatch`` 2.12 s (the dedup stage, the rule plan and the
    decisions write), ``walCommit`` 0.05 s, ``commitOffsets`` 0.04 s and
    ``queryPlanning`` 0.02 s.  Throughput is therefore proportional to
    rows per trigger until batches reach GB scale: size triggers for
    SECONDS of compute, not fairness.

    The default is 16: at small triggers the fixed floor dominates
    wall-clock, and an ``availableNow`` backfill has no latency reason to
    prefer small batches.  Lower it only when per-batch latency matters
    more than throughput (live tailing)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", int(files_per_trigger))
        .parquet(input_dir)
    )


def start_filter_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dedup: bool = False,
    files_per_trigger: int = 16,
    langid_model: dict | None = None,
    lm=None,
):
    """Run the quality filter incrementally; decisions land as parquet
    partitioned by ``batch_id``.

    ``foreachBatch`` keeps the transformation identical to the batch path
    (no separate streaming implementation of the rules to drift), and the
    ``batch_id``-partitioned direct overwrite makes the at-least-once
    replay idempotent: re-delivering batch N rewrites partition
    ``batch_id=N`` in place rather than appending duplicates.

    ``dedup=True`` is the streaming analogue of ``cli filter --dedup``:
    a first-seen-url stage runs BEFORE the rule plan, so a url re-crawled
    in a later micro-batch never re-emits a decision.  It is Spark's own
    streaming deduplication (``dropDuplicates(["url"])``, planned as the
    JVM ``StreamingDeduplicate`` operator): ``html`` is pruned before its
    shuffle, its state holds url keys only, and each micro-batch writes
    state deltas for its new urls only.  Semantics:

    * exactly one decision per url, taken from the first micro-batch that
      delivers it (across batches the rule is delivery order);
    * when ONE micro-batch holds several captures of a url, the kept row
      is the first one the dedup operator reads, not the earliest
      ``warc_ts`` — deliver one capture per url per drop if the choice
      matters;
    * the state is split into ``spark.sql.shuffle.partitions`` partitions,
      fixed when the checkpoint is created (a later conf change does not
      re-split a resumed checkpoint);
    * state lives in the default in-memory (HDFS-backed) provider; for a
      crawl whose distinct urls outgrow executor memory set
      ``spark.sql.streaming.stateStore.providerClass`` to
      ``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``
      before the checkpoint is created.

    The batch command dedups on exact TEXT within one corpus snapshot,
    while a stream has no corpus-wide view — first-seen-url is the
    streaming-correct dedup granularity (pair it with url
    canonicalization upstream).

    ``langid_model`` / ``lm`` are the same trained-model hooks as the
    batch path (``quality_filter.annotate``): the streaming deployment
    scores with the SAME weights as its batch twin, so a migration
    between the two can't silently change decisions.
    """
    stream = stream_pages(spark, input_dir, files_per_trigger)
    if dedup:
        # the rule plan never references `html` (quality_filter module
        # contract), so it is pruned before the dedup shuffle
        stream = stream.select(
            "url", "warc_ts", "text", "lang"
        ).dropDuplicates(["url"])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_decisions_batch(
            batch_df, batch_id, output_dir,
            langid_model=langid_model, lm=lm,
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_decisions_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    langid_model: dict | None = None,
    lm=None,
) -> None:
    """The idempotent micro-batch writer: decisions land under
    ``output_dir/batch_id=N`` (partition-discovery layout, so readers of
    ``output_dir`` still see a ``batch_id`` column), written DIRECTLY to
    the batch's own directory with overwrite — an at-least-once replay
    of batch N rewrites exactly its own directory instead of appending
    duplicates (directly unit-tested by writing the same batch twice).

    Direct-path overwrite rather than dynamic partition overwrite (the
    r5 implementation): dynamic overwrite stages through the table root
    and enumerates existing partitions on every commit, so its per-batch
    cost GROWS with the number of batches ever written — at an
    unbounded-crawl 10^5 micro-batches that is the sink's scaling
    hazard.  Writing straight to the partition path is O(1) per batch
    forever, with identical layout and replay semantics."""
    dec = (
        QF.annotate(batch_df, langid_model=langid_model, lm=lm)
        .select(*QF.DECISION_COLS)
        if (langid_model is not None or lm is not None)
        else QF.decisions(batch_df)
    )
    dec.write.mode("overwrite").parquet(
        f"{output_dir}/batch_id={int(batch_id)}"
    )


def start_windowed_metrics_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "qf_windowed_metrics",
    sink_path: str | None = None,
    rules: tuple | None = None,
):
    """Event-time rule-hit metrics: tumbling windows over ``warc_ts`` with a
    watermark for late pages — the Structured-Streaming analogue of the
    per-run metrics table (kept/dropped counts per crawl-time window).

    The aggregate is built from the SAME rule registry as the batch
    metrics path (``quality_filter._metric_aggs`` over
    ``heuristics.all_rule_severities(rules)``), so the windowed metrics
    table has one column per registered rule — identical column set to
    the batch metrics aggregate, and rule overrides (``rules=``/env)
    apply to both paths without drift.

    Late data beyond the watermark is dropped from the aggregation state;
    state size is bounded by (windows in flight) x (constant columns) —
    the property that matters when this runs forever at crawl scale.
    Sink: the in-memory table ``query_name`` by default (tests/demo), or a
    durable parquet metrics table when ``sink_path`` is given (the
    production shape; the file sink's transactional log makes the append
    exactly-once).
    """
    from pyspark.sql import functions as F

    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.rules import heuristics

    stream = stream_pages(spark, input_dir)
    ann = QF.annotate(stream, rules=rules)
    severities = heuristics.all_rule_severities(rules)
    agg = (
        ann.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(*QF._metric_aggs(severities))
        .select(
            F.col("w.start").alias("window_start"),
            "_total",
            *severities,
            "_dropped",
        )
    )
    writer = agg.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if sink_path is not None:
        writer = writer.format("parquet").option("path", sink_path)
    else:
        writer = writer.format("memory").queryName(query_name)
    return writer.trigger(availableNow=True).start()


def raise_progress_retention(spark: SparkSession) -> None:
    """recentProgress retains only the last N progress entries (default
    100) — a large backlog split into more micro-batches than that would
    silently undercount post-run stats, so callers that report
    ``sum(numInputRows)`` raise the retention well past any plausible
    availableNow tick.  Call BEFORE ``start``."""
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", "100000"
    )


def stream_input_rows(query) -> tuple[int, int]:
    """(total input rows, non-empty batches) from a finished query's
    progress history — pair with :func:`raise_progress_retention`."""
    progress = query.recentProgress
    return (
        sum(p["numInputRows"] for p in progress),
        sum(1 for p in progress if p["numInputRows"] > 0),
    )
