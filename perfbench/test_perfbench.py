"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import ast
import hashlib
import json
import re
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SMALL = 0.01


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*.parquet")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.generate(workload, 7, tmp_path / "a", SMALL)
    b = gen.generate(workload, 7, tmp_path / "b", SMALL)
    c = gen.generate(workload, 8, tmp_path / "c", SMALL)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a["docs"] == b["docs"] and a["text_bytes"] == b["text_bytes"]


def test_pages_are_runs_of_source_paragraphs(tmp_path):
    import pyarrow.parquet as pq

    m = gen.generate("stream_drops", 3, tmp_path, SMALL)
    pages = pq.read_table(m["drops"]).to_pydict()
    source = gen.source_paragraphs()
    for text, lang in zip(pages["text"], pages["lang"]):
        paras = {t for t, _ in source[lang]}
        *body, last = text.split("\n\n")
        assert all(p in paras for p in body)
        # suffixes are appended to the last paragraph only
        assert any(last.startswith(p) for p in paras)
    assert set(pages["lang"]) <= set(source)


def test_every_workload_in_benchmark_json_has_a_generator():
    assert {w["name"] for w in SPEC["workloads"]} == set(gen.GENERATORS)


def test_result_line_prints_exactly_the_benchmark_names():
    for trace in (0, 1):
        names = run.metric_specs(SPEC, trace)
        values = dict.fromkeys(names, 1.5)
        line = json.loads(run.result_line(SPEC, trace, values, 3, 0))
        assert set(line["metrics"]) == set(names)
        assert all(
            line["metrics"][n]["unit"] == u for n, u in names.items()
        )
        with pytest.raises(ValueError):
            run.result_line(SPEC, trace, {**values, "bogus_s": 1.0}, 3, 0)
        with pytest.raises(ValueError):
            run.result_line(
                SPEC, trace, dict(list(values.items())[1:]), 3, 0
            )


def test_end_to_end_values_cover_benchmark_names():
    passes = [SimpleNamespace(wall=2.0, steps=[2.0]),
              SimpleNamespace(wall=3.0, steps=[1.0, 2.0])]
    values = run.end_to_end_values(
        3.0, passes, {"docs": 10, "text_bytes": 100}, 50
    )
    assert set(values) == set(run.metric_specs(SPEC, 0))
    assert all(v > 0 for v in values.values())


LAYER_NAME = re.compile(
    r"^(core|pages|quality_filter|checkpoint|dedup|history|streaming|"
    r"reports|trace)\.[a-z0-9_]+$"
)


def test_per_layer_names_in_code_exist_in_benchmark_json():
    """Per-layer metrics are built as dict literals; every key that looks
    like a layer metric must be declared in BENCHMARK.json."""
    per_layer = set(run.metric_specs(SPEC, 1))
    found = set()
    for src in ("workloads.py", "run.py"):
        tree = ast.parse((HERE / src).read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                found |= {
                    k.value for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                    and LAYER_NAME.match(k.value)
                }
    import workloads

    found |= {f"streaming.{k}" for k in workloads.STREAM_PHASES}
    assert len(found) > 20 and found <= per_layer, found - per_layer


def _decisions(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "url": [f"u{i}" for i in range(n)],
        "keep": [i % 2 == 0 for i in range(n)],
        "drop_reason": ["" if i % 2 == 0 else "min_words" for i in range(n)],
        "scrubbed_text": [f"text {i}" for i in range(n)],
    })


def test_frame_mismatches_counts_each_bad_row():
    exp = _decisions(5)
    assert checks.frame_mismatches(exp.sample(frac=1, random_state=1), exp,
                                   "url") == 0
    bad = exp.copy()
    bad.loc[1, "keep"] = True
    bad.loc[3, "scrubbed_text"] = "leaked user@example.org"
    assert checks.frame_mismatches(bad, exp, "url") == 2
    assert checks.frame_mismatches(exp.iloc[1:], exp, "url") == 1
    dup = pd.concat([exp, bad.iloc[[1]]])
    assert checks.frame_mismatches(dup, exp, "url") >= 1


def test_family_check_flags_merges_and_low_recall():
    fams = [
        {"kind": "exact", "urls": ["e1", "e2"]},
        {"kind": "near", "urls": ["n1", "n2", "n3"]},
        {"kind": "template", "urls": ["t1", "t2"]},
    ]
    singles = ["s1", "s2"]
    good = {"e1", "n1", "t2", "s1", "s2"}
    assert checks.family_failures(good, fams, singles)["failures"] == 0
    merged = good - {"t2"}  # template family swallowed by another group
    assert checks.family_failures(merged, fams, singles)["merged_groups"] == 1
    missed = good | {"n2"}  # near family not collapsed: recall 0.5
    assert checks.family_failures(missed, fams, singles)["failures"] == 1
    assert checks.family_failures(good - {"s2"}, fams, singles)[
        "lost_singletons"
    ] == 1


def test_a_failing_check_raises_failed_fraction_above_zero():
    names = run.metric_specs(SPEC, 0)
    values = dict.fromkeys(names, 1.0)
    failures = checks.frame_mismatches(
        _decisions(3).assign(keep=True), _decisions(3), "url"
    )
    failed = run.failed_steps(failures, 4)
    line = json.loads(run.result_line(SPEC, 0, values, 4, failed))
    assert line["failed"] / line["attempted"] > 0
    assert line["correct"] is False
    assert run.failed_steps(0, 4) == 0


def test_history_check_counts_texts_shipped_twice(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import workloads

    texts = {"a": "Same  text", "b": "same text", "c": "other text"}
    (tmp_path / "pages").mkdir()
    pq.write_table(pa.table({"url": list(texts), "text": list(texts.values())}),
                   tmp_path / "pages" / "p.parquet")
    m = {"pages": str(tmp_path / "pages")}

    def dump(name, urls):
        d = tmp_path / name / "data" / "bucket=0"
        d.mkdir(parents=True)
        pq.write_table(pa.table({
            "url": urls, "keep": [True] * len(urls),
            "drop_reason": [""] * len(urls), "scrubbed_text": urls,
        }), d / "part.parquet")
        return tmp_path / name

    first, clean, dup = dump("d0", ["a"]), dump("d1", ["c"]), dump("d2", ["b"])
    assert workloads.DedupCrawl._shipped_twice(m, [first, clean]) == 0
    assert workloads.DedupCrawl._shipped_twice(m, [first, clean, dup]) == 1
