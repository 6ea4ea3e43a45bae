"""The workload bodies, their traced runs and their output checks.

Each body makes the public calls that ``cli.py filter`` / ``stream-filter``
make for the same flags, with the CLI's default parameters.  A body is an
ordered list of ``(layer, step)`` pairs: a step makes the calls into one
layer and returns the frame it leaves (or ``None`` when it writes).  A
*pass* runs every step; the traced *prefix* n runs the first n steps and
sends the last frame to a ``noop`` sink, so the measured pass and the
prefixes share one code path.  A pass's *steps* (as reported) are the units
a user waits on: the pass itself for the batch workload, each micro-batch
for the stream.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F
from spans import Tracer

from mysql_data_quality_spark.operators import dedup as D
from mysql_data_quality_spark.pipeline import quality_filter as QF
from mysql_data_quality_spark.pipeline.checkpoint import CheckpointedWriter
from mysql_data_quality_spark.reports import write_unified_report
from mysql_data_quality_spark.rules.heuristics import profile_rules
from mysql_data_quality_spark.streaming.incremental import (
    raise_progress_retention,
    start_filter_stream,
)

# cli.py filter defaults: --profile default, --buckets 16, --group-size 4,
# --dedup-near minhash with k=3, 32 hashes, 8 bands, --near-threshold 0.5
RULES = profile_rules("default")
N_BUCKETS = 16
GROUP_SIZE = 4
MINHASH = {"k": 3, "num_hashes": 32, "bands": 8}
NEAR_THRESHOLD = 0.5
#: survivors whose decisions are recomputed by the DuckDB twin (the
#: twin runs at ~60 KB of text per second)
CHECK_SLICE = 150
#: input columns the rule plan reads (the scan prefix reads these)
PAGE_COLS = ("url", "text", "lang")
#: traced history sequence over the dedup_crawl input: dumps of this many
#: input files each, compacted after every COMPACT_EVERY dumps
HISTORY_DUMPS = 2
HISTORY_FILES = 1
COMPACT_EVERY = 2


@dataclass
class Pass:
    wall: float
    steps: list[float]
    # rows the prefix's noop sink received (0 for a whole pass)
    sunk: int = 0
    # per-phase micro-batch durations of a stream pass
    detail: dict = field(default_factory=dict)


def _noop(df) -> int:
    """Write ``df`` to the noop sink; returns the rows written."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop").mode("overwrite").save()
    return obs.get["rows"]


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def disk_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _parquet_glob(path) -> str:
    return f"{path}/**/*.parquet"


def _decisions_rel(con, out: Path):
    """The written decision rows of a CheckpointedWriter output."""
    return con.sql(
        "select url, keep, drop_reason, scrubbed_text from read_parquet("
        f"'{_parquet_glob(Path(out) / 'data')}', hive_partitioning = true)"
    )


def _rules_step(st: dict):
    """``annotate`` → ``observe_metrics`` → decision columns, as
    ``cli filter`` builds them (lazy: no job runs here)."""
    ann = QF.annotate(st["pages"], rules=RULES)
    observed, st["obs"] = QF.observe_metrics(ann, rules=RULES)
    st["dec"] = observed.select(*QF.DECISION_COLS)
    return st["dec"]


class Workload:
    name = ""

    def body(self, spark, m: dict, out: Path, st: dict) -> list:
        """The ``(layer, step)`` list of one pass; steps share ``st``."""
        raise NotImplementedError

    def release(self, st: dict) -> None:
        """Free what a (possibly partial) pass left cached."""

    def make_pass(self, wall: float, st: dict, sunk: int) -> Pass:
        return Pass(wall, [wall], sunk)

    def run_pass(self, spark, m: dict, out: Path, tr: Tracer,
                 n: int | None = None) -> Pass:
        """Run the body, or with ``n`` its first n steps into the noop
        sink; each step runs in a span named after its layer."""
        st: dict = {}
        steps = self.body(spark, m, out, st)[:n]
        t0 = time.perf_counter()
        frame, sunk = None, 0
        for layer, step in steps:
            with tr.span(layer):
                frame = step()
        if n is not None and frame is not None:
            with tr.span("sink"):
                sunk = _noop(frame)
        wall = time.perf_counter() - t0
        self.release(st)
        return self.make_pass(wall, st, sunk)

    def prefixes(self, spark, m: dict, out: Path, tr: Tracer) -> dict:
        """Every cumulative prefix, each in a span ``prefix:<layer>``;
        the last one is the whole body (a traced pass writing ``out``)."""
        layers = [layer for layer, _ in self.body(spark, m, out, {})]
        runs = {}
        for n, layer in enumerate(layers, 1):
            with tr.span(f"prefix:{layer}"):
                runs[layer] = self.run_pass(spark, m, _fresh(out), tr, n)
        return runs

    def traced_extra(self, spark, m: dict, out: Path, work: Path,
                     tr: Tracer) -> tuple[dict, int]:
        """Traced work after the prefixes and the checks; returns the
        per-layer counts it takes and its own check failures."""
        return {}, 0

    def layer_metrics(self, tr: Tracer, m: dict, runs: dict,
                      out: Path) -> dict:
        """The workload's per-layer metrics, from the traced work."""
        raise NotImplementedError

    def check(self, spark, m: dict, out: Path, seed: int) -> int:
        """Number of failing items in the last pass's output."""
        raise NotImplementedError


def _prefix_layers(tr: Tracer, chain: list[str]) -> dict:
    """Self time and stage deltas of cumulative prefixes: layer n is
    prefix(n) minus prefix(n-1)."""
    out = {}
    prev_s, prev_t = 0.0, None
    for name in chain:
        s = tr.seconds(f"prefix:{name}")
        t = tr.stage_totals(f"prefix:{name}")
        out[name] = {"self_s": s - prev_s, "totals": t, "prev": prev_t}
        prev_s, prev_t = s, t
    return out


def _delta(layer: dict, attr: str) -> float:
    base = getattr(layer["prev"], attr) if layer["prev"] is not None else 0
    return getattr(layer["totals"], attr) - base


class DedupCrawl(Workload):
    """``cli filter --dedup --dedup-near minhash`` over a duplicate-heavy
    corpus."""

    name = "dedup_crawl"

    def body(self, spark, m, out, st):
        def scan():
            st["pages"] = spark.read.parquet(m["pages"])
            return st["pages"].select(*PAGE_COLS)

        def exact():
            st["pages"] = D.dedup_exact_corpus(st["pages"], "url", "text")
            return st["pages"]

        def minhash():
            st["pairs"] = D.minhash_lsh_pairs(
                st["pages"], "url", "text", threshold=NEAR_THRESHOLD,
                **MINHASH
            )
            return st["pairs"]

        def clusters():
            st["pages"] = D.deduplicated_corpus(st["pages"], st["pairs"],
                                                "url")
            return st["pages"]

        def write():
            CheckpointedWriter(str(out), n_buckets=N_BUCKETS).run(
                st["dec"], group_size=GROUP_SIZE
            )

        def reports():
            res = QF.metrics_from_observation(st["obs"].get, rules=RULES)
            write_unified_report(res, "pages", out / "metrics")

        return [
            ("pages.scan", scan),
            ("dedup.exact", exact),
            ("dedup.minhash", minhash),
            ("dedup.clusters", clusters),
            ("quality_filter", lambda: _rules_step(st)),
            ("checkpoint", write),
            ("reports", reports),
        ]

    def release(self, st):
        if "pairs" in st:
            st["pairs"]._persisted_sigs.unpersist()

    def traced_extra(self, spark, m, out, work, tr):
        self._isolated_rules(spark, m, out, tr)
        return self._history(spark, m, work, tr)

    def _isolated_rules(self, spark, m, out, tr):
        """The rule step alone over its cached input rows (the pass's
        survivors), so every stage of its group is the rule plan's.  The
        plan is fused into the stage that reads the dedup output, and over
        these few rows a prefix difference is mostly noise."""
        kept = spark.read.parquet(str(out / "data")).select("url")
        with tr.span("isolated:input"):
            rows = spark.read.parquet(m["pages"]).join(
                kept, "url", "left_semi").persist()
            rows.count()
        with tr.span("isolated:quality_filter"):
            _noop(_rules_step({"pages": rows}))
        rows.unpersist()

    def _history(self, spark, m, work, tr):
        """``cli filter --dedup-history H --near-history N`` over the
        input split into dumps: probe → write → commit, then compaction on
        a fixed cadence.  Checks that no normalized text ships twice."""
        files = sorted(Path(m["pages"]).glob("*.parquet"))
        hist, near = work / "history", work / "near_history"
        dumps = []
        for d in range(HISTORY_DUMPS):
            part = files[d * HISTORY_FILES:(d + 1) * HISTORY_FILES]
            dumps.append(work / f"dump{d}")
            pages = spark.read.parquet(*map(str, part))
            with tr.span("history.probe"):
                probe = D.dedup_against_history(
                    pages, "url", "text", str(hist),
                    update_history=False, keep_hash_col=True,
                )
                near_probe = D.near_dedup_against_history(
                    probe, "url", "text", str(near),
                    threshold=NEAR_THRESHOLD, update_history=False,
                    **MINHASH,
                )
            with tr.span("history.write"):
                dec = _rules_step({"pages": near_probe})
                CheckpointedWriter(str(dumps[-1]), n_buckets=N_BUCKETS).run(
                    dec, group_size=GROUP_SIZE
                )
            with tr.span("history.commit"):
                D.commit_history(probe, str(hist))
                D.commit_near_history(near_probe, "url", "text", str(near),
                                      **MINHASH)
            if (d + 1) % COMPACT_EVERY == 0:
                with tr.span("history.compact"):
                    D.compact_history(spark, str(hist))
                    D.compact_history(spark, str(near), cols=("band", "bh"))
        stored = [p for h in (hist, near) for p in h.rglob("*.parquet")]
        counts = {
            "history.bytes": sum(p.stat().st_size for p in stored),
            "history.files": len(stored),
        }
        return counts, self._shipped_twice(m, dumps)

    @staticmethod
    def _shipped_twice(m, dumps) -> int:
        """Normalized-text hashes written by more than one dump row."""
        con = duckdb.connect()
        shipped = " union all ".join(
            f"select url from ({_decisions_rel(con, d).sql_query()})"
            for d in dumps
        )
        norm = D.normalized_text_sql("p.text")
        return con.sql(
            f"select coalesce(sum(n - 1), 0) from (select md5({norm}), "
            f"count(*) n from ({shipped}) s join read_parquet("
            f"'{_parquet_glob(m['pages'])}') p using (url) group by 1)"
        ).fetchone()[0]

    def layer_metrics(self, tr, m, runs, out):
        chain = list(runs)
        lay = _prefix_layers(tr, chain)
        scan_t = lay["pages.scan"]["totals"]
        dedup_t = lay["dedup.clusters"]["totals"]
        qf = tr.stage_totals("isolated:quality_filter")
        probe = tr.stage_totals("history.probe")
        con = duckdb.connect()
        near_survivors = _decisions_rel(con, out).count("*").fetchone()[0]
        written = [p for p in out.rglob("*.parquet") if "data" in p.parts]
        return {
            "pages.scan_s": lay["pages.scan"]["self_s"],
            "pages.input_bytes": disk_bytes(Path(m["pages"])),
            "quality_filter.self_s": tr.seconds("isolated:quality_filter"),
            "quality_filter.executor_s": qf.executor_s,
            "quality_filter.gc_s": qf.gc_s,
            "quality_filter.task_p50_s": qf.task_p50_s,
            "quality_filter.task_max_s": qf.task_max_s,
            "checkpoint.self_s": lay["checkpoint"]["self_s"],
            "checkpoint.bytes_written": sum(p.stat().st_size for p in written),
            "checkpoint.files_written": len(written),
            # eager and last: its own span in the traced pass is its
            # self time (a prefix difference would be mostly noise)
            "reports.metrics_s": tr.seconds("prefix:reports/reports"),
            "dedup.input_docs": m["docs"],
            "dedup.exact_self_s": lay["dedup.exact"]["self_s"],
            "dedup.exact_shuffle_bytes": _delta(lay["dedup.exact"],
                                                "shuffle_bytes"),
            "dedup.exact_survivors": runs["dedup.exact"].sunk,
            "dedup.minhash_self_s": lay["dedup.minhash"]["self_s"],
            "dedup.pairs": runs["dedup.minhash"].sunk,
            "dedup.clusters_self_s": lay["dedup.clusters"]["self_s"],
            "dedup.cluster_jobs": len(lay["dedup.clusters"]["totals"].jobs)
            - len(lay["dedup.minhash"]["totals"].jobs),
            "dedup.near_survivors": near_survivors,
            "dedup.shuffle_bytes": dedup_t.shuffle_bytes - scan_t.shuffle_bytes,
            "dedup.spill_bytes": dedup_t.spill_bytes - scan_t.spill_bytes,
            "history.probe_s": tr.seconds("history.probe"),
            "history.commit_s": tr.seconds("history.commit"),
            "history.compact_s": tr.seconds("history.compact"),
            "history.probe_shuffle_bytes": probe.shuffle_bytes,
        }

    def check(self, spark, m, out, seed):
        con = duckdb.connect()
        con.sql(
            "create view pages as select * from read_parquet("
            f"'{_parquet_glob(m['pages'])}')"
        )
        oracle = {
            r[0] for r in con.sql(
                "select url from (" + D.dedup_exact_corpus_sql("pages") + ")"
            ).fetchall()
        }
        exact = {
            r["url"] for r in D.dedup_exact_corpus(
                spark.read.parquet(m["pages"]), "url", "text"
            ).select("url").collect()
        }
        survivors = {r[0] for r in _decisions_rel(con, out).fetchall()}
        fam = checks.family_failures(survivors, m["families"], m["singletons"])
        # the rule plan over a seeded slice of survivors vs its DuckDB twin
        con.sql(
            "create table slice as select p.* from pages p semi join ("
            f"select url from ({_decisions_rel(con, out).sql_query()}) "
            f"using sample reservoir({CHECK_SLICE} rows) repeatable ({seed})"
            ") s using (url)"
        )
        expected = con.sql(QF.decisions_sql("slice", rules=RULES)).df()
        actual = _decisions_rel(con, out).filter(
            "url in (select url from slice)"
        ).df()
        return (
            len(exact ^ oracle) + fam["failures"]
            + checks.frame_mismatches(actual, expected, "url")
        )


#: streamingQueryProgress.durationMs keys reported per micro-batch
STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "trigger_s": "triggerExecution",
}


class StreamDrops(Workload):
    """``cli stream-filter --dedup`` (availableNow, default
    files-per-trigger) over many small parquet drops."""

    name = "stream_drops"

    def body(self, spark, m, out, st):
        def stream():
            raise_progress_retention(spark)
            st["query"] = start_filter_stream(
                spark, m["drops"], str(out / "decisions"),
                str(out / "checkpoint"), dedup=True,
            )
            st["query"].awaitTermination()

        return [("streaming", stream)]

    def make_pass(self, wall, st, sunk):
        progress = [p for p in st["query"].recentProgress
                    if p["numInputRows"] > 0]
        steps = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        phases = {
            k: [p["durationMs"].get(v, 0) / 1000.0 for p in progress]
            for k, v in STREAM_PHASES.items()
        }
        return Pass(wall, steps, sunk, {"phases": phases})

    def traced_extra(self, spark, m, out, work, tr):
        drop = next(iter(sorted(Path(m["drops"]).glob("*.parquet"))))
        pages = spark.read.parquet(str(drop))
        with tr.span("quality_filter"):
            QF.decisions(pages)
        return {}, 0

    def layer_metrics(self, tr, m, runs, out):
        traced = runs["streaming"]
        return {
            "streaming.batches": len(traced.steps),
            **{
                f"streaming.{k}": statistics.median(v) if v else 0.0
                for k, v in traced.detail["phases"].items()
            },
        }

    def check(self, spark, m, out, seed):
        con = duckdb.connect()
        stream = con.sql(
            "select url, keep, drop_reason, scrubbed_text from read_parquet("
            f"'{_parquet_glob(out / 'decisions')}', hive_partitioning = true)"
        ).df()
        batch = QF.decisions(
            spark.read.parquet(m["drops"]).dropDuplicates(["url"])
        ).toPandas()
        return (
            checks.frame_mismatches(stream, batch, "url")
            + abs(len(stream) - m["distinct_docs"])
        )


WORKLOADS = {
    w.name: w
    for w in (DedupCrawl(), StreamDrops())
}
