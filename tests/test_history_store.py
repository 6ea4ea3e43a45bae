"""The cross-run history store's contract, checked once per key shape
(exact ``text_md5``, near ``(band, bh)``, semantic ``(tbl, bkt)``) on
hand-built key frames: crashed staging is invisible, a corrupted history
raises while a missing or staging-only dir bootstraps, compaction is
idempotent and keeps the manifest, parameter drift raises, a probe-only
call writes nothing, and the bloom prefilter never changes a result.
Plus the wrong-kind guard through the public probes."""

from __future__ import annotations

import json
import pathlib

import pytest

from mysql_data_quality_spark.operators import dedup as D
from mysql_data_quality_spark.operators import history as H

SHAPES = {
    "exact": (("text_md5",), {}),
    "near": (("band", "bh"), {"k": 3, "num_hashes": 32, "bands": 8}),
    "semantic": (
        ("tbl", "bkt"), {"dim": 8, "bits": 12, "tables": 24, "seed": 42}
    ),
}
RUN1 = {1: [11, 12], 2: [21, 22]}
RUN2 = {2: [21, 22], 3: [31, 32], 4: [99, 12]}  # 4 shares 1's 2nd key


@pytest.fixture(params=sorted(SHAPES))
def shape(request):
    return request.param


def _store(spark, path, shape, **over):
    key, params = SHAPES[shape]
    return H.HistoryStore(spark, str(path), key, {**params, **over})


def _frames(spark, shape, docs):
    """(keys, batch, id_col) for ``drop_seen``: exact keys ARE the batch
    (one key per doc); near/semantic keys are side rows of the batch."""
    if shape == "exact":
        rows = [(d, f"{ks[0]:032x}") for d, ks in docs.items()]
        return (
            spark.createDataFrame(rows, "doc_id: long, text_md5: string"),
            None, None,
        )
    c1, c2 = SHAPES[shape][0]
    keys = spark.createDataFrame(
        [(d, i, k) for d, ks in docs.items() for i, k in enumerate(ks)],
        f"doc_id: long, {c1}: int, {c2}: long",
    )
    batch = spark.createDataFrame(
        [(d, f"doc {d}") for d in docs], "doc_id: long, text: string"
    )
    return keys, batch, "doc_id"


def _run(spark, path, shape, docs, update=True, prefilter="none"):
    keys, batch, id_col = _frames(spark, shape, docs)
    out = _store(spark, path, shape).drop_seen(
        keys, update, batch=batch, id_col=id_col, prefilter=prefilter
    )
    return sorted(r["doc_id"] for r in out.collect())


def _want_run2(shape):
    # near/semantic drop a doc when ANY key was seen; exact docs have one
    return [3] if shape != "exact" else [3, 4]


def _snapshot(path: pathlib.Path) -> dict:
    return {
        str(p.relative_to(path)): p.read_bytes()
        for p in sorted(path.rglob("*")) if p.is_file()
    }


class TestHistoryStoreContract:
    def test_staging_invisible_probe_only_write_free(
        self, spark, shape, tmp_path
    ):
        """A missing dir and a dir holding only crashed ``_tmp-*`` staging
        both bootstrap; staging (valid or garbage) is never read or
        promoted; a probe-only call writes nothing."""
        missing = tmp_path / "missing"
        assert _run(spark, missing, shape, RUN1, update=False) == [1, 2]
        assert not missing.exists()
        hd = tmp_path / "h"
        # crashed appends: RUN2's keys staged (would drop all of RUN2 if
        # read), and a garbage file
        keys, _, _ = _frames(spark, shape, RUN2)
        keys.select(*SHAPES[shape][0]).write.parquet(str(hd / "_tmp-cafe"))
        (hd / "_tmp-dead").mkdir()
        (hd / "_tmp-dead" / "part-0.parquet").write_text("not parquet")
        before = _snapshot(hd)
        assert _run(spark, hd, shape, RUN1, False) == [1, 2]
        assert _snapshot(hd) == before
        assert _run(spark, hd, shape, RUN1) == [1, 2]
        before = _snapshot(hd)
        assert _run(spark, hd, shape, RUN2, False) == _want_run2(shape)
        assert _snapshot(hd) == before
        assert len(list(hd.glob("run=*"))) == 1
        assert len(list(hd.glob("_tmp-*"))) == 2  # never promoted

    def test_corrupted_history_raises(self, spark, shape, tmp_path):
        bad = tmp_path / "bad"
        bad.mkdir()
        (bad / "part-0000.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            _run(spark, bad, shape, RUN1)

    def test_compaction_idempotent_keeps_manifest(
        self, spark, shape, tmp_path
    ):
        hd = tmp_path / "h"
        _run(spark, hd, shape, RUN1)
        _run(spark, hd, shape, {3: [31, 32]})
        (hd / "_tmp-dead").mkdir()
        manifest = (hd / H.MANIFEST).read_bytes()
        n_keys = 3 if shape == "exact" else 6
        assert D.compact_history(spark, str(hd)) == n_keys
        runs = list(hd.glob("run=*"))
        assert len(runs) == 1 and runs[0].name.startswith("run=compact-")
        assert not list(hd.glob("_tmp-*"))
        assert (hd / H.MANIFEST).read_bytes() == manifest
        key = SHAPES[shape][0]
        assert D.compact_history(spark, str(hd), cols=key) == n_keys
        with pytest.raises(ValueError, match="keyed by"):
            D.compact_history(spark, str(hd), cols=("other",))
        assert _run(spark, hd, shape, RUN2) == ([4] if shape == "exact" else [])
        assert D.compact_history(spark, str(tmp_path / "none")) == 0

    def test_params_drift_raises(self, spark, shape, tmp_path):
        hd = tmp_path / "h"
        _run(spark, hd, shape, RUN1)
        stored = json.loads((hd / H.MANIFEST).read_text())
        assert stored == {
            "key": list(SHAPES[shape][0]), "params": SHAPES[shape][1]
        }
        with pytest.raises(ValueError, match="incomparable"):
            _store(spark, hd, shape, drift=1)
        with pytest.raises(ValueError, match="incomparable"):
            H.HistoryStore(spark, str(hd), ("other",), SHAPES[shape][1])

    def test_saturated_bloom_still_exact(
        self, spark, shape, tmp_path, monkeypatch
    ):
        hd = tmp_path / "h"
        _run(spark, hd, shape, RUN1)
        monkeypatch.setattr(H, "BLOOM_MAX_BITS", 1024)
        assert _run(spark, hd, shape, RUN2, False, "bloom") == _want_run2(shape)
        # no false negatives: every key passes its own saturated bloom
        keys, _, _ = _frames(spark, shape, RUN2)
        store = _store(spark, hd, shape)
        own = keys.select(*SHAPES[shape][0])
        assert store._bloom(own, keys).count() == own.count()


def test_number_like_run_id_is_read(spark, tmp_path):
    """A random hex run id that partition discovery would infer as a
    decimal (this one once hung a probe for good) reads like any other."""
    store = _store(spark, tmp_path / "h", "exact")
    keys, _, _ = _frames(spark, "exact", RUN1)
    store.commit(keys, run_id="763449e262194096")
    assert store.read().count() == 2


def test_wrong_kind_dir_rejected_untouched(spark, tmp_path):
    """A near or semantic probe (or deferred commit) pointed at an exact
    history raises naming both key sets before anything is written."""
    from tests.test_semantic_dedup import _unit

    hd = tmp_path / "exact"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "other words here now")],
        "doc_id: long, text: string",
    )
    D.dedup_against_history(docs, "doc_id", "text", str(hd))
    before = _snapshot(hd)
    emb = spark.createDataFrame(
        [(1, _unit(0.0)), (2, _unit(60.0))],
        "doc_id: long, embedding: array<double>",
    )
    calls = (
        lambda: D.near_dedup_against_history(docs, "doc_id", "text", str(hd)),
        lambda: D.commit_near_history(docs, "doc_id", "text", str(hd)),
        lambda: D.semantic_dedup_against_history(
            docs, emb, "doc_id", str(hd), dim=8
        ),
        lambda: D.commit_semantic_history(docs, emb, "doc_id", str(hd), dim=8),
    )
    for call in calls:
        with pytest.raises(ValueError, match="text_md5") as err:
            call()
        assert "band" in str(err.value) or "tbl" in str(err.value)
    assert _snapshot(hd) == before
