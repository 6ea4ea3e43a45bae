"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_crawl --seed 1 --seconds 5 --trace 0

Run from the repository root.  Sets up the way a CLI invocation does
(process start, ``core.session.get_spark(cores=nproc)`` and the workload's
plan compiled and run on a tiny slice), generates the workload's inputs from
the seed, runs the workload body ``WARMUP_PASSES`` times untimed, then
repeats it for ``--seconds`` and at least ``MIN_PASSES`` times, checks the
output of the last pass and prints one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Names, units and
directions are those of ``BENCHMARK.json``.

A traced run also prints its spans (path, start, seconds) as one JSON line
on standard error.

Everything it writes goes under ``.perfbench_work/`` (Spark's local and
temporary directories included), which it deletes before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

WORK_DIR = ".perfbench_work"
TINY_SCALE = 0.02
#: passes per untraced run at least, whatever ``--seconds`` says: a time
#: window alone would flip between one and two passes of ~10 s
MIN_PASSES = 2
#: untimed passes over the full input before the timed ones: the first pass
#: after set-up runs 15-40 % slower than the next, by an amount that varies
#: from run to run, while the JVM compiles its hot paths for the full input
WARMUP_PASSES = 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_specs(spec: dict, trace: int) -> dict:
    """{name: unit} of the metrics a run must print."""
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def result_line(spec: dict, trace: int, values: dict, attempted: int,
                failed: int) -> str:
    """The final JSON line; refuses a metric set that differs from
    ``BENCHMARK.json``."""
    units = metric_specs(spec, trace)
    if set(values) != set(units):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(values))}, unknown "
            f"{sorted(set(values) - set(units))}"
        )
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": values[n], "unit": units[n]} for n in units
        },
    })


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the Spark JVM plus this Python process."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def process_age() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def _confine(work: Path) -> None:
    """Point every scratch directory of Spark, the JVM and Python into
    ``work`` (set before the JVM starts)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def set_up(wl, seed: int, work: Path):
    """Process start to ready, as a CLI invocation pays it: interpreter
    and imports, ``get_spark(cores=nproc)``, and the workload's plan
    compiled and run once on a tiny slice of its input.  Returns the
    session, the set-up seconds (minus the slice's generation) and their
    split into session start and warm-up."""
    from gen import generate
    from spans import Tracer
    from workloads import _fresh

    from mysql_data_quality_spark.core.session import get_spark

    t0 = time.perf_counter()
    tiny = generate(wl.name, seed, work / "tiny", TINY_SCALE)
    t1 = time.perf_counter()
    spark = get_spark(cores=len(os.sched_getaffinity(0)))
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    wl.run_pass(spark, tiny, _fresh(work / "tiny_out"), Tracer(spark, False))
    t3 = time.perf_counter()
    return spark, process_age() - (t1 - t0), (t2 - t1, t3 - t2)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    # the program under test is the checkout's own source tree
    sys.path.insert(0, str(root))
    from spans import Tracer

    from gen import generate
    from workloads import WORKLOADS, _fresh, disk_bytes

    wl = WORKLOADS[args.workload]
    work = root / WORK_DIR / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        _confine(work)
        clock = {"start": time.perf_counter()}
        spark, setup_s, split = set_up(wl, args.seed, work)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        clock["set up"] = time.perf_counter()
        m = generate(args.workload, args.seed, work / "input")
        clock["generated"] = time.perf_counter()

        out = work / "out"
        off = Tracer(spark, False)
        if args.trace:
            # cumulative prefixes (the last is a whole traced pass), the
            # checks, and an untraced pass: the last two differ by the
            # tracing overhead
            tr = Tracer(spark, True)
            runs = wl.prefixes(spark, m, out, tr)
            traced = list(runs.values())[-1]
            failures = wl.check(spark, m, out, args.seed)
            again = wl.run_pass(spark, m, _fresh(out), off)
            counts, extra_failures = wl.traced_extra(spark, m, out, work, tr)
            failures += extra_failures
            tr.read_stages()
            values = layer_values(spec, wl, tr, m, runs, again, out, split,
                                  peak_rss_mb(jvm_pid), counts)
            passes = [traced]
            spans = [{"path": s.path, "start_s": s.start - tr.spans[0].start,
                      "seconds": s.seconds} for s in tr.spans]
        else:
            for _ in range(WARMUP_PASSES):
                wl.run_pass(spark, m, _fresh(out), off)
            clock["warmed up"] = time.perf_counter()
            passes = []
            t_start = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t_start < args.seconds):
                passes.append(wl.run_pass(spark, m, _fresh(out), off))
            stored = disk_bytes(out)
            failures = wl.check(spark, m, out, args.seed)
            values = end_to_end_values(setup_s, passes, m, stored)
            spans = []
        clock["measured"] = time.perf_counter()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            work.parent.rmdir()
    clock["stopped"] = time.perf_counter()
    marks = list(clock.items())
    steps = sum(len(p.steps) for p in passes)
    print(
        f"{args.workload}: {len(passes)} passes, {steps} steps, "
        f"{m['docs']} docs, check failures {failures}; set-up "
        f"{setup_s:.1f}; seconds: "
        + ", ".join(f"{k} {t - p:.1f}"
                    for (_, p), (k, t) in zip(marks, marks[1:])),
        file=sys.stderr,
    )
    if spans:
        print(json.dumps({"spans": spans}), file=sys.stderr)
    print(result_line(spec, args.trace, values, steps,
                      failed_steps(failures, len(passes[-1].steps))))
    return 0


def failed_steps(check_failures: int, judged_steps: int) -> int:
    """A failing output check fails every step of the pass it judged."""
    return judged_steps if check_failures else 0


def end_to_end_values(setup_s: float, passes, m: dict, stored: int) -> dict:
    wall = statistics.median(p.wall for p in passes)
    all_steps = [s for p in passes for s in p.steps]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": m["docs"] / wall,
        "step_p50_s": statistics.median(all_steps),
        "stored_bytes_per_input_byte": stored / m["text_bytes"],
    }


def layer_values(spec, wl, tr, m, runs, untraced, out, split, rss,
                 counts) -> dict:
    """Every per-layer metric: the workload's own layers, zero for the
    layers it does not exercise."""
    builds = [s.seconds for s in tr.spans
              if s.path.rsplit("/", 1)[-1] == "quality_filter"]
    values = dict.fromkeys(metric_specs(spec, 1), 0)
    own = {
        "core.session_start_s": split[0],
        "core.warmup_s": split[1],
        # G1 grows the 8g heap by GC timing: too unsteady for a bound
        "core.peak_rss_mb": rss,
        "quality_filter.build_s": statistics.median(builds),
        "trace.overhead_s": list(runs.values())[-1].wall - untraced.wall,
        **wl.layer_metrics(tr, m, runs, out),
        **counts,
    }
    unknown = set(own) - set(values)
    if unknown:
        raise ValueError(f"per-layer metrics not in BENCHMARK.json: {unknown}")
    values.update(own)
    return values


if __name__ == "__main__":
    sys.exit(main())
