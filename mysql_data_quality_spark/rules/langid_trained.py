"""Trained fastText-style language identification (the "real learned
weights" upgrade of the marker-lexicon stand-in in ``rules/langid.py``,
same relationship as ``rules/arpa.py`` to the unigram perplexity
stand-in).

Architecture = fastText's langid recipe reduced to its public core
(Joulin et al. 2016, "Bag of Tricks for Efficient Text Classification"):
a bag of hashed character n-grams, L1-normalized, through a linear
layer + softmax.  Everything here is deterministic and dependency-free:

  * features: byte-level 1-3-grams of the lowercased utf-8 text (space
    padded at both ends as a word-boundary signal), hashed with an
    FNV-1a-style polynomial seeded per order, bucketed mod ``dim`` —
    all computed vectorized in numpy inside an Arrow-batched UDF
    (never per-row Python in the hot loop: one bincount per text over
    a sliced-array hash, no Python-level n-gram materialization);
  * training: MLlib multinomial logistic regression (distributed
    L-BFGS treeAggregate — no driver-side data) DISTILLED from the
    engine's own marker-lexicon labels (``langid.detect_*``), the same
    self-distillation pattern as ``operators/classifier.py``; weights
    export to a plain JSON dict, so inference has NO MLlib dependency;
  * inference: one ``X @ W.T + b`` matmul per Arrow batch + softmax;
    ``und`` for empty feature vectors or sub-threshold confidence
    (fastText's ``-th`` flag).

Scale: scoring is a pure map (zero shuffles); the weight matrix is
``dim x n_labels`` doubles (~100 KB at the defaults) shipped in the UDF
closure.  Training is bounded by ``max_rows`` via the deterministic
hash sampler, so the fit never scales with corpus size.

Reference analogue: none — the reference has no trained models; this
exists because BASELINE.json's north rule names "fastText language
identification" explicitly.

Adjudication note: the hashed feature space has no DuckDB twin (like
xxhash64 minhash), so correctness is pinned by a pure-Python reference
featurizer + scorer, teacher-agreement bounds, determinism and
partition-invariance tests (tests/test_langid_trained.py) rather than
an oracle row.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mysql_data_quality_spark.rules import langid as _lexicon

DEFAULT_DIM = 2048
DEFAULT_ORDERS = (1, 2, 3)
# FNV-1a 64-bit constants (public domain hash family)
_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)
_ORDER_SEED = np.uint64(0x9E3779B97F4A7C15)


# ---------------------------------------------------------------------------
# featurizer (numpy batch + pure-Python reference)
# ---------------------------------------------------------------------------
def _text_bytes(text: str | None) -> bytes:
    """Canonical byte form: lowercase, space-padded (word boundaries)."""
    if not text:
        return b""
    return (" " + text.lower() + " ").encode("utf-8")


def _gram_indices(buf: np.ndarray, order: int, dim: int) -> np.ndarray:
    """Hash indices of every ``order``-gram of a uint8 byte array —
    vectorized: ``order`` shifted slices folded into one uint64 hash."""
    n = buf.size - order + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    # seed arithmetic in Python ints: numpy warns on SCALAR uint64
    # overflow even though the wrap is exactly what we want
    mask = (1 << 64) - 1
    seed = (int(_FNV_OFFSET) ^ ((order * int(_ORDER_SEED)) & mask)) & mask
    h = np.full(n, np.uint64(seed), dtype=np.uint64)
    for k in range(order):
        h = (h * _FNV_PRIME) ^ buf[k : k + n].astype(np.uint64)
    if dim & (dim - 1) == 0:
        # power-of-two dim (the default): bit-mask IS h % dim, minus
        # the 64-bit division cost
        return (h & np.uint64(dim - 1)).astype(np.int64)
    return (h % np.uint64(dim)).astype(np.int64)


_BLOCK_DOCS = 1024  # bincount scratch = _BLOCK_DOCS * dim * 8 bytes


def _featurize_block(bufs: list, dim: int, orders: tuple) -> np.ndarray:
    """Whole-block vectorization: one concatenated byte array, ONE hash
    pass per n-gram order across every doc at once (grams straddling a
    doc boundary masked out), counts scattered with a single flat
    bincount — no per-document numpy calls, which dominate wall time on
    short web pages."""
    nb = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), np.int64, nb)
    big = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    if big.size == 0:
        return np.zeros((nb, dim), dtype=np.float64)
    starts = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    doc_of = np.repeat(np.arange(nb, dtype=np.int64), lens)
    pos = np.arange(big.size, dtype=np.int64)
    flat_parts, doc_parts = [], []
    for order in orders:
        idx = _gram_indices(big, order, dim)
        n = idx.size
        if n == 0:
            continue
        d = doc_of[:n]
        # gram must end inside the doc it starts in
        valid = pos[:n] + (order - 1) < starts[d + 1]
        dv = d[valid]
        flat_parts.append(dv * dim + idx[valid])
        doc_parts.append(dv)
    if not flat_parts:
        return np.zeros((nb, dim), dtype=np.float64)
    # ONE scatter-bincount over every order's grams: the dense
    # (nb, dim) scratch is touched once, not once per order
    dd = np.concatenate(doc_parts)
    out = np.bincount(
        np.concatenate(flat_parts), minlength=nb * dim
    ).astype(np.float64).reshape(nb, dim)
    totals = np.bincount(dd, minlength=nb)
    nz = totals > 0
    out[nz] /= totals[nz, None].astype(np.float64)
    return out


def featurize_batch(
    texts, dim: int = DEFAULT_DIM, orders: tuple = DEFAULT_ORDERS
) -> np.ndarray:
    """List/Series of texts -> (B, dim) float64, rows L1-normalized
    (all-zero row for empty/None text).  Processes the batch in
    ``_BLOCK_DOCS`` chunks so the flat scatter-bincount scratch stays
    ~16 MB at the default dim."""
    bufs = [_text_bytes(t) for t in texts]
    if len(bufs) <= _BLOCK_DOCS:
        return _featurize_block(bufs, dim, orders)
    blocks = [
        _featurize_block(bufs[i : i + _BLOCK_DOCS], dim, orders)
        for i in range(0, len(bufs), _BLOCK_DOCS)
    ]
    return np.concatenate(blocks, axis=0)


def featurize_reference(
    text: str | None, dim: int = DEFAULT_DIM, orders: tuple = DEFAULT_ORDERS
) -> np.ndarray:
    """Pure-Python-int twin of :func:`featurize_batch` for one text —
    the independent implementation the parity tests adjudicate against
    (same role as the Python winnowing reference)."""
    raw = _text_bytes(text)
    vec = np.zeros(dim, dtype=np.float64)
    total = 0
    mask = (1 << 64) - 1
    for order in orders:
        seed = (int(_FNV_OFFSET) ^ (order * int(_ORDER_SEED) & mask)) & mask
        for s in range(len(raw) - order + 1):
            h = seed
            for k in range(order):
                h = ((h * int(_FNV_PRIME)) & mask) ^ raw[s + k]
            vec[h % dim] += 1.0
            total += 1
    return vec / total if total else vec


# ---------------------------------------------------------------------------
# scoring (numpy batch; JSON model dict)
# ---------------------------------------------------------------------------
def _model_arrays(model: dict) -> tuple[np.ndarray, np.ndarray, list]:
    W = np.asarray(model["weights"], dtype=np.float64)  # (L, dim)
    b = np.asarray(model["intercepts"], dtype=np.float64)  # (L,)
    labels = list(model["labels"])
    if W.shape != (len(labels), int(model["dim"])):
        raise ValueError(
            f"langid model shape mismatch: weights {W.shape} vs "
            f"{len(labels)} labels x dim {model['dim']}"
        )
    return W, b, labels


def score_batch(
    texts, model: dict, min_prob: float = 0.0
) -> tuple[list, np.ndarray]:
    """(predicted langs, softmax confidence) for a batch of texts.

    ``und`` when the text yields no features or the winning softmax
    probability is below ``min_prob`` (fastText's threshold flag).

    Fused per block: each ``_BLOCK_DOCS`` chunk's dense feature matrix
    is scored (``X @ W.T``) and discarded immediately, so peak scratch
    is one ~16 MB block instead of a batch-sized matrix (the
    batch-level concatenate measured 2x the whole featurize+matmul on
    a bandwidth-throttled host)."""
    W, b, labels = _model_arrays(model)
    dim, orders = int(model["dim"]), tuple(model["orders"])
    bufs = [_text_bytes(t) for t in texts]
    n = len(bufs)
    out: list = [None] * n
    conf = np.zeros(n, dtype=np.float64)
    for s in range(0, n, _BLOCK_DOCS):
        X = _featurize_block(bufs[s : s + _BLOCK_DOCS], dim, orders)
        z = X @ W.T + b
        z -= z.max(axis=1, keepdims=True)
        ez = np.exp(z)
        probs = ez / ez.sum(axis=1, keepdims=True)
        best = probs.argmax(axis=1)  # ties -> lowest idx = sorted-first
        bc = probs[np.arange(len(best)), best]
        empty = ~X.any(axis=1)
        und = empty | (bc < min_prob)
        for j in range(len(best)):
            if und[j]:
                out[s + j] = _lexicon.UNDETERMINED
            else:
                out[s + j] = labels[best[j]]
        # conf is zeroed on EVERY und emission (not just empty rows):
        # an ('und', 0.62) pair from a sub-min_prob winner would hand a
        # threshold-combining caller contradictory fields (r6 ADVICE)
        conf[s : s + len(best)] = np.where(und, 0.0, bc)
    return out, conf


def detect_trained_udf(model: dict, min_prob: float = 0.0) -> Column:
    """Arrow-batched pandas UDF: text -> predicted language string."""
    dim, orders = int(model["dim"]), tuple(model["orders"])
    W, b, labels = _model_arrays(model)
    frozen = {
        "dim": dim, "orders": orders, "labels": labels,
        "weights": W, "intercepts": b,
    }

    @pandas_udf("string")
    def _detect(texts: pd.Series) -> pd.Series:
        langs, _ = score_batch(texts.tolist(), frozen, min_prob=min_prob)
        return pd.Series(langs, dtype="object")

    return _detect


# ---------------------------------------------------------------------------
# training (MLlib multinomial LR, bounded, distilled from the lexicon)
# ---------------------------------------------------------------------------
def train_langid(
    df: DataFrame,
    text_col: str = "text",
    label_col: str | None = None,
    dim: int = DEFAULT_DIM,
    orders: tuple = DEFAULT_ORDERS,
    reg_param: float = 1e-4,
    max_iter: int = 200,
    max_rows: int = 200_000,
    seed: int = 2024,
) -> dict:
    """Fit the linear bag-of-char-n-grams model and return a JSON-ready
    dict (``dim / orders / labels / intercepts / weights``).

    ``label_col=None`` distills from the engine's own marker-lexicon
    detector (``und`` rows are excluded — the teacher abstained).  The
    fit is bounded: corpora above ``max_rows`` are cut by the
    deterministic hash sampler first, so training cost never scales
    with the corpus."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    from mysql_data_quality_spark.operators.sampling import hash_sample

    if label_col is None:
        df = df.withColumn(
            "_li_label", _lexicon.detect_pandas_udf()(F.col(text_col))
        )
        label_col = "_li_label"
    data = df.where(
        (F.col(label_col) != _lexicon.UNDETERMINED)
        & F.col(label_col).isNotNull()
        & (F.length(F.col(text_col)) > 0)
    )
    # ONE aggregation job yields the row count AND the label set (the
    # r6 shape ran a count() job plus a distinct().collect() job over
    # the same frame — pure fixed-cost duplication for a bounded fit)
    label_counts = data.groupBy(label_col).count().collect()
    n = sum(r["count"] for r in label_counts)
    if n == 0:
        raise ValueError("no labeled rows to train on")
    if n > max_rows:
        data = hash_sample(data, text_col, max_rows / n, seed=seed)
        # the sample may have dropped a rare label entirely; labels must
        # describe the frame the fit actually sees
        labels = sorted(
            r[0] for r in data.select(label_col).distinct().collect()
        )
    else:
        labels = sorted(r[label_col] for r in label_counts)
    if len(labels) < 2:
        raise ValueError(f"need >=2 label classes, got {labels}")
    idx_expr: Column = F.lit(None).cast("double")
    for i, lab in reversed(list(enumerate(labels))):
        idx_expr = F.when(
            F.col(label_col) == lab, F.lit(float(i))
        ).otherwise(idx_expr)

    @pandas_udf("array<double>")
    def _feats(texts: pd.Series) -> pd.Series:
        X = featurize_batch(texts.tolist(), dim=dim, orders=orders)
        return pd.Series(list(X))

    # Right-size the fit's partitioning to the BOUNDED sample size
    # (data-adaptive, not a core-count constant): L-BFGS launches one
    # treeAggregate job per iteration over this frame, so leaving the
    # ≤max_rows sample spread across the full corpus partitioning costs
    # max_iter × n_partitions near-empty task launches — scheduler
    # overhead on top of the gradient math (measured on the bench's
    # 1200-row/60-iter fit: 9.5-11.0s → 6.9-9.4s; the residual is
    # MLlib's ~100ms/iteration job+broadcast floor).  ~2000 rows per
    # task, capped at the session parallelism for large samples.
    parts = max(
        1,
        min(
            int(df.sparkSession.sparkContext.defaultParallelism),
            (min(n, max_rows) + 1999) // 2000,
        ),
    )
    assembled = data.repartition(parts).select(
        idx_expr.alias("_li_y"),
        array_to_vector(_feats(F.col(text_col))).alias("_li_vec"),
    )
    lr = LogisticRegression(
        featuresCol="_li_vec",
        labelCol="_li_y",
        family="multinomial",
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,  # features are already L1-normalized
    )
    m = lr.fit(assembled)
    W = m.coefficientMatrix.toArray()  # (L, dim)
    b = m.interceptVector.toArray()  # (L,)
    return {
        "dim": int(dim),
        "orders": [int(o) for o in orders],
        "labels": labels,
        "intercepts": [float(x) for x in b],
        "weights": [[float(x) for x in row] for row in W],
    }


def load_model(path: str) -> dict:
    from pathlib import Path

    model = json.loads(Path(path).read_text())
    _model_arrays(model)  # validate shape early
    return model
