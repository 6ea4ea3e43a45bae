"""Similarity search over embedding columns (array<float>).

  * :func:`cosine_topk` — exact brute-force top-k: broadcast the (small)
    query set against the corpus, dot/norms as JVM ``zip_with`` +
    ``aggregate`` column math (no Python), per-query top-k via window
    ``row_number`` (TakeOrdered per partition then merge).
  * :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH.
    Sign-bit signatures from deterministic pseudo-random hyperplanes
    (seeded from xxhash64, no RNG state), candidates restricted to
    same-bucket vectors (Hamming-0 on the signature prefix), then exact
    cosine re-rank within buckets.  At 10^12 rows the bucket join replaces
    the full cross product; recall is tuned by bands/bits.

Both keep the whole hot path in Catalyst; Python appears nowhere per-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double (parity with the SQL oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB fragment with the same operation order as :func:`cosine_col`."""
    def dot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({x}, {y}), "
            "p -> p[1]::double * p[2]::double))"
        )

    def norm(x: str) -> str:
        return f"sqrt(list_sum(list_transform({x}, v -> v::double * v::double)))"

    return f"({dot(a, b)}) / (({norm(a)}) * ({norm(b)}))"


def _topk_per_query(scored: DataFrame, k: int, n_salts: int = 32) -> DataFrame:
    """Deterministic per-query top-k in two phases: phase 1 ranks inside
    (query_id, salt-of-vec_id) partitions — each holds ~1/n_salts of the
    query's candidates — phase 2 ranks the ≤ n_salts×k survivors.  A
    single window partitioned only by query_id would funnel one query's
    ENTIRE candidate set (the whole corpus, for brute force) into one sort
    task.  Union of per-salt top-ks contains the global top-k, so results
    are identical; tie-break (cosine desc, vec_id asc) is total, so ranks
    are deterministic.  Size n_salts ≈ candidates-per-query / 10^6 at
    scale."""
    salted = scored.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_salts))
    )
    order = (F.desc("cosine"), F.asc("vec_id"))
    w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
    local = salted.withColumn("_r", F.row_number().over(w1)).where(
        F.col("_r") <= k
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (query_id, embedding) — small; broadcast so the corpus scan is
    shuffle-free; the per-query top-k is the two-phase salted merge
    (:func:`_topk_per_query`), never one window task per query over the
    whole corpus.  Deterministic tie-break on (similarity desc, vec_id asc).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    scored = c.crossJoin(q).withColumn(
        "cosine", cosine_col(F.col("q_vec"), F.col("c_vec"))
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# LSH-bucketed variant (scale path)
# ---------------------------------------------------------------------------
def _hyperplane(dim: int, bit: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane: component h[d] derived from a
    splitmix-style integer mix of (seed, bit, d) — reproducible across runs
    and cluster sizes, no RNG object."""
    out = []
    for d in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + bit * 0xBF58476D1CE4E5B9 + d + 1) & (
            2**64 - 1
        )
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & (2**64 - 1)
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & (2**64 - 1)
        x ^= x >> 31
        # map to [-1, 1)
        out.append((x / 2**63) - 1.0)
    return out


def signature_col(vec: Column, dim: int, bits: int = 16, seed: int = 42) -> Column:
    """Integer LSH signature: bit b = 1 iff dot(vec, hyperplane_b) >= 0.

    JVM Column-math reference for :func:`signatures_pandas_udf` (same
    hyperplane family; a parity test pins them equal modulo razor-edge
    dots).  The operators use the Arrow UDF — one einsum per batch beats
    ``bits`` interpreted folds per row — but this form needs no Python
    workers and serves as the executable spec."""
    sig = F.lit(0).cast("long")
    for b in range(bits):
        h = F.lit(_hyperplane(dim, b, seed))
        pos = dot_col(vec, h) >= 0
        sig = sig + F.when(
            pos, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return sig


def signatures_pandas_udf(dim: int, bits: int, tables: int, seed: int = 42):
    """Vectorized Arrow UDF computing ALL per-table LSH signatures at once:
    one ``(batch × dim) × (dim × tables·bits)`` contraction per Arrow
    batch, then sign + bit-pack — replacing ``tables × bits`` interpreted
    per-row HOF dot-folds with vectorized C.  ``einsum(optimize=False)``
    rather than BLAS matmul: BLAS kernel blocking varies with the batch
    shape, so a razor-edge dot (true value 0) could flip sign between
    partitionings — observed as a ±1-pair difference between sessions;
    einsum's fixed-order loop makes signatures identical for any batch
    size/partitioning.  Same hyperplanes as :func:`signature_col`
    (deterministic, seed-derived); float64 fixed-order summation can still
    disagree with the JVM's per-element fold on razor-edge dots, which
    moves bucket membership (recall), never reported cosines."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _hyperplane(dim, b, seed=seed + 1000 * t)
            for t in range(tables)
            for b in range(bits)
        ],
        dtype=np.float64,
    ).T  # dim × (tables·bits)
    pow2 = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def sig(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series([], dtype=object)
        mat = np.vstack(col.to_numpy()).astype(np.float64)  # n × dim
        dots = np.einsum("nd,db->nb", mat, planes, optimize=False)
        pos = dots >= 0  # n × (tables·bits)
        packed = (
            pos.reshape(len(mat), tables, bits) * pow2
        ).sum(axis=2).astype(np.int64)  # n × tables
        return pd.Series(list(packed))

    return sig


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: standard multi-table hyperplane LSH.

    ``tables`` independent signatures (different hyperplane seeds); a
    corpus vector is a candidate if it shares ANY table's bucket with the
    query; candidates get an exact cosine re-rank.  Expected candidate set
    ~ tables * corpus / 2^bits — `bits` trades cost, `tables` buys recall.

    Corpus-side signatures come from the vectorized Arrow contraction
    (:func:`signatures_pandas_udf` — one einsum per batch, not
    ``tables × bits`` interpreted folds per row), and the bucket join
    carries only (tbl, bkt, id): BOTH vectors re-join by id after the
    candidate dedup — the corpus vector from the corpus frame, the query
    vector from the (broadcast) query frame — so no array<float> column
    ever rides the candidate exchange and vector bytes move
    O(candidates), not O(corpus × tables) (plan-asserted by test)."""
    sig_udf = signatures_pandas_udf(dim, bits, tables)
    ids = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    c = ids.select(
        "vec_id", sig_udf(F.col("c_vec")).alias("sig")
    ).select("vec_id", F.posexplode("sig").alias("tbl", "bkt"))
    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            sig_udf(F.col(vec_col)).alias("sig"),
        ).select("query_id", F.posexplode("sig").alias("tbl", "bkt"))
    )
    cand = (
        c.join(q, on=["tbl", "bkt"])
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = (
        cand.join(ids, on="vec_id")
        .join(F.broadcast(qvecs), on="query_id")
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) variant: coarse k-means quantizer + probed buckets
# ---------------------------------------------------------------------------
def _train_centroids_deterministic(
    sample: "np.ndarray", n_centroids: int, iters: int = 8
) -> "np.ndarray":
    """Lloyd iterations on a driver-side sample, fully deterministic: no
    RNG object — init picks every ``len//n_centroids``-th row of the
    (already deterministically chosen) sample, ties in assignment break
    to the lowest centroid id, empty centroids keep their previous
    position.  Rows are L2-normalized so euclidean k-means == spherical
    k-means (cosine)."""
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.where(norms == 0, 1.0, norms)
    step = max(1, len(x) // n_centroids)
    cent = x[::step][:n_centroids].copy()
    if len(cent) < n_centroids:  # tiny corpus: pad by repeating
        cent = np.vstack([cent] * ((n_centroids // max(len(cent), 1)) + 1))[
            :n_centroids
        ]
    for _ in range(iters):
        sims = np.einsum("nd,cd->nc", x, cent, optimize=False)
        assign = np.argmax(sims, axis=1)  # ties -> lowest id (argmax rule)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    cent[c] = m / nrm
    return cent


def _centroid_assign_udf(centroids: "np.ndarray", n_probe: int):
    """Arrow UDF: top-``n_probe`` centroid ids per vector by cosine, one
    einsum per batch (same determinism argument as
    :func:`signatures_pandas_udf`: fixed-order contraction, so
    assignments are identical across partitionings)."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids.astype(np.float64)

    @pandas_udf("array<int>")
    def assign(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series([], dtype=object)
        mat = np.vstack(col.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(nrm == 0, 1.0, nrm)
        sims = np.einsum("nd,cd->nc", mat, cent, optimize=False)
        # stable top-n_probe: sort by (-sim, centroid_id)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return assign


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 64,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train the IVF coarse quantizer once and return the centroid matrix
    (``n_centroids × dim`` float64) so repeated :func:`ivf_cosine_topk`
    query batches skip the sample + train collect — the documented
    "train once and persist" 10^12-row deployment: persist the returned
    array (``np.save``) and pass it back via ``centroids=``.

    The sample is the ``train_sample`` corpus vectors with the smallest
    ``xxhash64(id)`` — uniform, seed-free, partitioning-independent —
    so training is deterministic for a given corpus.  Returns an empty
    ``(0, 0)`` array for an empty corpus."""
    sample_rows = (
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
        )
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(train_sample)
        .select("c_vec")
        .collect()
    )
    sample = np.array([r["c_vec"] for r in sample_rows], dtype=np.float64)
    if len(sample) == 0:
        return np.zeros((0, 0))
    return _train_centroids_deterministic(
        sample, min(n_centroids, max(1, len(sample)))
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 8,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k via an inverted file: the classic
    coarse-quantizer ANN path (complement to :func:`lsh_cosine_topk`).

    1. TRAIN — spherical k-means on a deterministic driver-side sample
       (the ``train_sample`` corpus vectors with the smallest
       ``xxhash64(id)``: a uniform, seed-free, partitioning-independent
       sample).  Collecting the sample is bounded by ``train_sample``
       regardless of corpus size — standard IVF training; at 10^12 rows
       train once and persist the centroid matrix.
    2. ASSIGN — broadcast the centroid matrix inside an Arrow UDF; each
       corpus vector gets its nearest-centroid list id (one einsum per
       batch, no per-row Python).
    3. PROBE — each query probes its ``n_probe`` nearest lists; the
       candidate join carries only (centroid_id, vec_id): vectors re-join
       by id for the exact cosine re-rank, so reported cosines are
       bit-identical to brute force (only WHICH candidates are seen is
       approximate).  Expected candidate fraction ≈ n_probe/n_centroids.

    ``centroids`` (from :func:`train_ivf_centroids`) skips step 1 —
    pass a persisted matrix so repeated query batches pay zero training
    collects.
    """
    from pyspark.sql import types as T

    ids = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
    )
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids, train_sample, id_col, vec_col
        )
    if centroids.size == 0:  # empty corpus: empty result, stable schema
        # id column types are caller-defined (urls are strings) — derive
        # them from the input schemas so the empty and non-empty paths
        # agree (r3 ADVICE)
        schema = T.StructType(
            [
                T.StructField(
                    "query_id", queries.schema[query_id_col].dataType
                ),
                T.StructField("vec_id", corpus.schema[id_col].dataType),
                T.StructField("rank", T.IntegerType()),
                T.StructField("cosine", T.DoubleType()),
            ]
        )
        return corpus.sparkSession.createDataFrame([], schema)
    n_centroids = len(centroids)
    assign1 = _centroid_assign_udf(centroids, 1)
    assignp = _centroid_assign_udf(centroids, min(n_probe, n_centroids))
    c = ids.select(
        "vec_id", F.element_at(assign1(F.col("c_vec")), 1).alias("cid")
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(assignp(F.col(vec_col))).alias("cid"),
        )
    )
    qvecs = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
        )
    )
    cand = (
        c.join(q, on="cid")
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = (
        cand.join(ids, on="vec_id")
        .join(qvecs, on="query_id")
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("c_vec")))
    )
    return _topk_per_query(scored, k)


def lsh_near_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.6,
    bits: int = 4,
    tables: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs embedding near-dup: (ia, ib, cosine) for pairs
    with cosine >= threshold — the scale path that replaces the O(n²)
    crossJoin (kept as `embedding_near_pairs`, this operator's tiny-scale
    oracle).  The signature frame feeding the three plan arms (banding +
    both sketch sides) is cached and attached to the result as
    ``_persisted_sigs`` (the :func:`~.dedup.minhash_lsh_pairs` contract):
    call ``result._persisted_sigs.unpersist()`` once the pairs are
    consumed.  At 10^12 rows write signatures to a table instead.

    Candidates are ALL pairs within a (table, bucket).  A ``bits``-bit
    hyperplane bucket holds ~n/2^bits arbitrary vectors, so a
    bucket-min star (the minhash generator's ``star_edges`` mode) would
    mostly pair non-duplicates and lose clusters; the fix for dup-heavy
    corpora is raising ``bits`` (selectivity) — see
    :func:`semantic_dedup_corpus`.

    Plan, in cost order:
      1. one signature pass computes all ``tables`` per-table signatures
         (array<long>) — the SAME array serves as LSH buckets (via
         posexplode) and as a ``bits×tables``-bit Hamming sketch;
      2. the candidate self-join on (tbl, bkt) carries ONLY (tbl, bkt, id)
         — neither the embedding nor the sketch rides the join explosion;
      3. candidates re-join the sketch by id and pass a cheap popcount
         prefilter: est_cos = cos(π·hamming/total_bits) must clear
         ``threshold − margin``.  Random collisions (est_cos ≈ 0) die here
         for the price of ``tables`` xor+popcounts on longs, instead of a
         ``dim``-float cosine each;
      4. survivors re-join the vectors by id for the exact cosine re-rank
         (so reported cosines are bit-identical to the crossJoin oracle).

    Recall for a pair at cosine c: 1 - (1 - p^bits)^tables with
    p = 1 - arccos(c)/π; the defaults (4 bits × 24 tables) give ≥0.98 for
    c ≥ 0.4.  The sketch estimator's θ̂ std is π·√(p(1-p)/total_bits) ≈
    0.16 rad at 96 bits, so the default ``margin`` of 0.25 in cosine is a
    >4σ guard — prefilter recall loss is negligible.  Raise ``bits``
    (selectivity) and ``tables`` (recall + sketch precision) together at
    larger corpus sizes."""
    import math

    total_bits = bits * tables
    ids = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    sigs = ids.select(
        "vec_id",
        signatures_pandas_udf(dim, bits, tables)(F.col("vec")).alias("sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        "vec_id", F.posexplode("sig").alias("tbl", "bkt")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["tbl", "bkt"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
        .dropDuplicates(["ia", "ib"])
    )
    sa = sigs.select(F.col("vec_id").alias("ia"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("vec_id").alias("ib"), F.col("sig").alias("sig_b"))
    hamming = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est_cos = F.cos(F.lit(math.pi) * hamming / F.lit(float(total_bits)))
    margin = 0.25
    pre = (
        cand.join(sa, on="ia")
        .join(sb, on="ib")
        .where(est_cos >= F.lit(threshold - margin))
        .select("ia", "ib")
    )
    va = ids.select(F.col("vec_id").alias("ia"), F.col("vec").alias("ea"))
    vb = ids.select(F.col("vec_id").alias("ib"), F.col("vec").alias("eb"))
    out = (
        pre.join(va, on="ia")
        .join(vb, on="ib")
        .withColumn("cosine", cosine_col(F.col("ea"), F.col("eb")))
        .where(F.col("cosine") >= threshold)
        .select("ia", "ib", "cosine")
    )
    out._persisted_sigs = sigs
    return out
