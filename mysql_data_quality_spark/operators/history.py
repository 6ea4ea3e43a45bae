"""The cross-run history store behind the exact, near and semantic
cross-run dedup probes in :mod:`operators.dedup`.

A history dir holds the keys of every document a previous run kept —
``text_md5`` (exact), LSH band hashes ``(band, bh)`` (near) or
hyperplane buckets ``(tbl, bkt)`` (semantic); hashes only, never text
or vectors — as one ``run=<id>`` parquet directory per committed run
(hive partition discovery reads them all), plus a ``_history.json``
manifest recording the key columns and the parameters the keys were
derived with.  The probes only build keys; this module owns the rest:

  * the manifest, validated on every call: keys of another kind or
    from other parameters are incomparable, and a silent mismatch would
    make every probe miss and re-emit the whole batch as fresh.  It is
    created (tmp file + rename) by the first commit only, so a probe
    against a read-only mount writes nothing;
  * the read: a missing dir, or one with no visible data files (only
    the manifest or crashed ``_tmp-*`` staging), bootstraps an empty
    history; any other failure propagates, because treating a transient
    error as "first run" would also re-emit the batch;
  * the crash-atomic commit: a run is written to a hidden ``_tmp-<id>``
    dir (underscore paths are invisible to readers) and renamed to
    ``run=<id>`` in one filesystem operation.  Rename is atomic on HDFS
    and local filesystems; on object stores without atomic rename,
    point the history at an HDFS/consistent path;
  * compaction of all runs into one distinct-key run;
  * the bloom prefilter: a semi-join reduction of the history scan to
    the rows whose key might occur in the batch, applied before the
    exchange.

Bookkeeping is at-least-once: a crash between a sink's commit and the
history commit re-emits that batch next run.  Duplicate key rows are
harmless to the anti-join probe.  One writer per history dir at a time
is the caller's lock to take.
"""

from __future__ import annotations

import json
import math
import uuid

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_history.json"
#: bloom false-positive target; ~10 bits per batch key
BLOOM_FPP = 0.01
#: bloom size cap in bits (a 32 MiB broadcast).  An undersized bloom
#: only passes more history rows to the exact join, never drops a match.
BLOOM_MAX_BITS = 2 ** 28


class HistoryStore:
    """One history dir keyed by ``key_cols`` whose keys were derived
    with ``params``.  Construction validates the dir's manifest and
    raises ``ValueError`` on any difference.  ``key_cols=None`` adopts
    the manifest instead (maintenance: the dir describes itself)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] | None = None,
        params: dict | None = None,
    ) -> None:
        self.spark, self.path = spark, path
        self._jpath = spark._jvm.org.apache.hadoop.fs.Path
        self._root = self._jpath(path)
        self._fs = self._root.getFileSystem(spark._jsc.hadoopConfiguration())
        stored = self._stored_manifest()
        if key_cols is None:
            self.manifest = stored or {"key": [], "params": {}}
        else:
            self.manifest = {"key": list(key_cols), "params": dict(params or {})}
            if stored is not None and stored != self.manifest:
                raise ValueError(
                    f"history {path} holds {stored}, this call uses "
                    f"{self.manifest}: keys are incomparable; use the "
                    "original parameters or start a new history dir"
                )
        self.key_cols = self.manifest["key"]

    def _child(self, name: str):
        return self._jpath(self._root, name)

    def _stored_manifest(self) -> dict | None:
        f = self._child(MANIFEST)
        if not self._fs.exists(f):
            return None
        stream = self._fs.open(f)
        try:
            raw = self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
        finally:
            stream.close()
        return json.loads(bytes(raw).decode("utf-8"))

    def read(self) -> DataFrame | None:
        """The committed keys, or None when no run has committed yet.
        No partition discovery: it infers a hex run id like ``763449e26``
        as the decimal 763449 x 10^26 and never ends on longer exponents."""
        try:
            return self.spark.read.parquet(
                self.path, recursiveFileLookup=True
            ).select(*self.key_cols)
        except AnalysisException as e:
            if ("PATH_NOT_FOUND" not in str(e)
                    and "UNABLE_TO_INFER_SCHEMA" not in str(e)):
                raise
            return None

    def probe(
        self,
        keys: DataFrame,
        batch: DataFrame | None = None,
        id_col: str | None = None,
        prefilter: str = "none",
    ) -> DataFrame:
        """The batch rows whose keys the history has not seen (unpinned).

        ``batch=None``: ``keys`` ARE the batch rows, one key each, and
        the probe is a shuffle anti join on the key (the history is never
        broadcast: it grows without bound).  Otherwise ``keys`` are
        ``(doc_id, *key_cols)`` side rows of ``batch`` and a batch row
        drops when ANY of its keys was seen: the seen ids (the cross-run
        dup tail of one batch) are broadcast, so the batch and its text
        never shuffle.  ``prefilter="bloom"`` applies :meth:`_bloom` to
        the history scan first; the result is identical."""
        if prefilter not in ("none", "bloom"):
            raise ValueError(
                f"history_prefilter must be none|bloom: {prefilter!r}"
            )
        hist = self.read()
        if hist is None:
            return keys if batch is None else batch
        if prefilter == "bloom":
            hist = self._bloom(hist, keys)
        if batch is None:
            return keys.join(hist, on=self.key_cols, how="left_anti")
        seen = (
            keys.join(hist, on=self.key_cols)
            .select("doc_id")
            .distinct()
            .withColumnRenamed("doc_id", id_col)
        )
        return batch.join(F.broadcast(seen), on=id_col, how="left_anti")

    def drop_seen(
        self,
        keys: DataFrame,
        update_history: bool,
        batch: DataFrame | None = None,
        id_col: str | None = None,
        prefilter: str = "none",
    ) -> DataFrame:
        """:meth:`probe`, pinned with ``localCheckpoint`` (the commit
        must read the rows the caller gets, not re-run the upstream plan
        nondeterministically), then with ``update_history`` the
        survivors' keys commit as one run."""
        fresh = self.probe(keys, batch, id_col, prefilter).localCheckpoint()
        if update_history:
            self.commit(
                fresh if batch is None else keys.join(
                    fresh.select(F.col(id_col).alias("doc_id")), on="doc_id"
                )
            )
        return fresh

    def commit(self, keys: DataFrame, run_id: str | None = None) -> None:
        """Append ``keys`` as one crash-atomic ``run=<id>`` directory,
        creating the manifest first if this is the dir's first write."""
        if not self._fs.exists(self._child(MANIFEST)):
            self._fs.mkdirs(self._root)
            tmp = self._child(f"_tmp-{MANIFEST}")
            out = self._fs.create(tmp, True)
            try:
                out.write(bytearray(json.dumps(self.manifest).encode("utf-8")))
            finally:
                out.close()
            if (not self._fs.rename(tmp, self._child(MANIFEST))
                    and not self._fs.exists(self._child(MANIFEST))):
                raise IOError(f"history manifest commit failed: {self.path}")
        run_id = run_id or uuid.uuid4().hex[:16]
        staging = f"{self.path}/_tmp-{run_id}"
        keys.select(*self.key_cols).write.parquet(staging)
        if not self._fs.rename(self._jpath(staging), self._child(f"run={run_id}")):
            raise IOError(f"history commit rename failed: {staging}")

    def compact(self) -> int:
        """Fold every committed run into ONE distinct-key run, then
        delete the old runs and any crashed ``_tmp-*`` staging; returns
        the distinct key count (0 for a missing or staging-only dir).

        The compacted run commits before anything is deleted, so a crash
        mid-delete leaves duplicate keys across runs — identical to the
        probe — and the compaction can simply be re-run.  Run it between
        ingest batches, never concurrently with an appending job."""
        hist, n, keep = self.read(), 0, None
        if hist is not None:
            if not self.key_cols:
                raise ValueError(f"{self.path} has no {MANIFEST}")
            hist = hist.distinct().localCheckpoint()  # pin before deleting
            n = hist.count()
            keep = f"compact-{uuid.uuid4().hex[:12]}"
            self.commit(hist, run_id=keep)
        if self._fs.exists(self._root):
            for status in self._fs.listStatus(self._root):
                name = status.getPath().getName()
                if (name.startswith(("run=", "_tmp-"))
                        and name != f"run={keep}"):
                    self._fs.delete(status.getPath(), True)
        return n

    def _bloom(self, hist: DataFrame, keys: DataFrame) -> DataFrame:
        """``hist`` reduced to the rows whose key might be in ``keys``.

        The bitset is built distributed over ``xxhash64(*key)`` /
        ``xxhash64(*key, 1)`` (double hashing): one numpy bitset per
        partition via ``mapInPandas``, OR-folded with a depth-2
        ``treeReduce`` so the driver receives O(sqrt(P)) bitsets, then
        broadcast and tested map-side by an Arrow UDF.  Per-run history
        shuffle drops from O(|history|) to O(matches + fpp·|history|);
        worth it when |history| >> |batch|.  ``keys`` is read twice
        (count and build), so it should be cached or cheap to recompute."""
        n = keys.count()
        if n == 0:
            return hist
        h1 = F.xxhash64(*self.key_cols)
        h2 = F.xxhash64(*self.key_cols, F.lit(1))
        m = int(-n * math.log(BLOOM_FPP) / math.log(2) ** 2)
        m = min(1 << max(10, (m - 1).bit_length()), BLOOM_MAX_BITS)
        k = max(1, min(8, round(m / n * math.log(2))))

        def build(batches):
            bits = np.zeros(m // 8, dtype=np.uint8)
            for pdf in batches:
                for pos in _bit_positions(pdf["h1"], pdf["h2"], m, k):
                    np.bitwise_or.at(
                        bits,
                        (pos >> np.uint64(3)).astype(np.int64),
                        (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
                    )
            yield pd.DataFrame({"bits": [bits.tobytes()]})

        bits = (
            keys.select(h1.alias("h1"), h2.alias("h2"))
            .mapInPandas(build, "bits binary")
            .rdd.map(lambda r: r["bits"])
            .treeReduce(
                lambda a, b: (
                    np.frombuffer(a, np.uint8) | np.frombuffer(b, np.uint8)
                ).tobytes(),
                depth=2,
            )
        )
        bc = self.spark.sparkContext.broadcast(bits)

        @F.pandas_udf("boolean")
        def might(a: pd.Series, b: pd.Series) -> pd.Series:
            arr = np.frombuffer(bc.value, dtype=np.uint8)
            ok = np.ones(len(a), dtype=bool)
            for pos in _bit_positions(a, b, m, k):
                byte = arr[(pos >> np.uint64(3)).astype(np.int64)]
                ok &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
            return pd.Series(ok)

        return hist.where(might(h1, h2))


def _bit_positions(h1: pd.Series, h2: pd.Series, m: int, k: int):
    """The k double-hashing bit positions ``h1 + i·h2 mod m`` per row —
    builder and prober share this, so positions agree by construction."""
    mu = np.uint64(m)
    a = h1.to_numpy(np.uint64) % mu
    b = (h2.to_numpy(np.uint64) | np.uint64(1)) % mu
    for i in range(k):
        yield (a + np.uint64(i) * b) % mu
