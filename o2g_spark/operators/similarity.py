"""Embedding similarity search (driver brief: ANN over an
``array<float>`` column — brute-force cosine top-k baseline + an
LSH-bucketed scale path; first-class alongside SURVEY.md §2).

Spark-first shapes:
- dot products / norms are ``zip_with`` + ``aggregate`` Column
  expressions evaluated in DOUBLE (JVM, codegen) — identical fold order
  to the DuckDB oracle's zipped-unnest SUM, so rounded similarities
  compare exactly;
- brute force broadcasts the (small) query set against the corpus: one
  map-only stage + per-query top-k window — the correct baseline even
  at 100 TB when |queries| is bounded;
- the scale path buckets by random-hyperplane LSH signs (signature from
  a seeded numpy matrix, applied via one Arrow pandas UDF batching the
  matmul), joins on bucket, ranks within — recall measured in tests
  against brute force, precision exact (true cosine re-verified).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions import text as X
from ..session import cache_latest


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double — F.aggregate left fold, order-deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# dot_fixed only helps while the generated per-field method both (a)
# stays under the JVM's 8 KB JIT HugeMethodLimit — a longer method is
# NEVER compiled and runs bytecode-interpreted, measured 4× SLOWER than
# the HOF fold — and (b) runs hot enough to compile at all. 64-dim
# chains measured safely inside the limit; cap the unroll at 128 dims
# and fall back to the fold beyond it rather than risk (a).
_UNROLL_MAX_DIM = 128


def dot_fixed(a: Column, b: Column, dim: "int | None") -> Column:
    """:func:`dot` unrolled for a KNOWN fixed dimension (guide §1.2
    per-task work). The HOF fold is a CodegenFallback — evaluated
    interpreted, per element, per row — while the size-GUARDED unrolled
    ``(0.0 + a[0]·b[0]) + a[1]·b[1] + …`` chain compiles: the CaseWhen
    guard splits the branch into its own generated method, which the
    JIT compiles once the expression runs hot (measured 2.3-3.3× on
    800k joined pairs; an UNguarded chain lands in one >8 KB method the
    JIT refuses forever — 4× slower than the fold — which is why the
    guard is also the perf mechanism, not just a safety net).

    The operation sequence (left-assoc adds over in-order cast
    products, starting from the same 0.0 literal) is IDENTICAL to the
    fold's, so results are bit-identical — and rows whose arrays are
    not exactly ``dim`` long take the fold path via the size guard, so
    the rewrite is result-preserving for ANY data. Apply it to PER-PAIR
    (post-fanout) expressions only: a per-row projection evaluated only
    a few thousand times per generated class never reaches the JIT
    compile threshold and runs bytecode-interpreted, measured SLOWER
    than the fold (which executes in long-lived, already-compiled
    interpreter code)."""
    if dim is None or dim > _UNROLL_MAX_DIM:
        return dot(a, b)
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(
        dot(a, b)
    )


def norm(a: Column) -> Column:
    """√Σ aᵢ² — deliberately NOT unrolled: norms are computed once per
    ROW before fan-out joins, a cold path where the unrolled chain's
    generated method never JIT-compiles (see :func:`dot_fixed`)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(1e-300))


def cosine_prenormed(
    a: Column, b: Column, na: Column, nb: Column, dim: "int | None" = None
) -> Column:
    """:func:`cosine` with the norms supplied as columns. Bit-identical
    to ``cosine(a, b)`` when ``na/nb`` are ``norm(a)/norm(b)`` (same
    sqrt values, same multiply), but lets the caller compute each SIDE's
    norm once per row instead of once per joined pair — the norm fold is
    an interpreted HOF aggregate, so on a k-fanout join this removes
    2k of the 3k per-pair array folds (guide §1.2: per-task work).
    ``dim``, when known, additionally switches the remaining per-pair
    dot product to the unrolled codegen chain (:func:`dot_fixed`)."""
    d = dot(a, b) if dim is None else dot_fixed(a, b, dim)
    return d / F.greatest(na * nb, F.lit(1e-300))


def dot_sql(a_tbl: str, b_tbl: str) -> str:
    """DuckDB zipped-unnest dot product (same left-to-right sum order)."""
    return (
        f"(SELECT sum(x * y) FROM (SELECT unnest(list_transform({a_tbl}, "
        f"v -> CAST(v AS DOUBLE))) AS x, unnest(list_transform({b_tbl}, "
        f"v -> CAST(v AS DOUBLE))) AS y))"
    )


def vector_dim(df: DataFrame, vec_col: str) -> int:
    """Width of the first non-null vector in ``vec_col``, or 0 when the
    column holds none (an empty frame: every caller then returns an
    empty result, whatever width it bands or unrolls for)."""
    first = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return 0 if first is None else int(first["d"])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    dim: "int | None" = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute-force baseline).

    Output: (qid, vec_id, sim, sim_rank), sim rounded to 6dp,
    deterministic tie-break on vec_id. Self-matches (same id) are NOT
    excluded — callers filter if the query set is drawn from the corpus.

    ``dim`` (probed from the corpus when None, same pattern as
    :func:`embedding_near_dup_pairs`) switches the per-pair dot product
    to the unrolled codegen chain — bit-identical, size-guarded
    (:func:`dot_fixed`); the brute-force k-fanout makes that per-pair
    fold the dominant cost of this operator.
    """
    if dim is None:
        dim = vector_dim(corpus, vec_col)
    # per-side norms BEFORE the fanout join: one HOF fold (or codegen
    # chain) per row instead of per (query × corpus) pair; bit-identical
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    sim = F.round(
        cosine_prenormed(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"), dim
        ),
        6,
    )
    w = Window.partitionBy("__qid").orderBy(F.col("sim").desc(), F.col("__cid").asc())
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("sim", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(id_col),
            "sim",
            F.col("sim_rank").cast(T.IntegerType()),
        )
    )


def cosine_topk_sql(
    corpus_tbl: str,
    queries_sql: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> str:
    """DuckDB oracle for :func:`cosine_topk` (queries_sql yields
    (qid, embedding) rows)."""
    d = dot_sql("q.embedding", f"c.{vec_col}")
    nq = dot_sql("q.embedding", "q.embedding")
    nc = dot_sql(f"c.{vec_col}", f"c.{vec_col}")
    return f"""
WITH q AS ({queries_sql}),
scored AS (
  SELECT q.{query_id} AS {query_id}, c.{id_col} AS {id_col},
         round({d} / greatest(sqrt({nq}) * sqrt({nc}), 1e-300), 6) AS sim
  FROM {corpus_tbl} c CROSS JOIN q
)
SELECT {query_id}, {id_col}, sim,
       CAST(row_number() OVER (PARTITION BY {query_id}
            ORDER BY sim DESC, {id_col} ASC) AS INTEGER) AS sim_rank
FROM scored
QUALIFY sim_rank <= {k}
"""


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, n_planes))


def lsh_bucket_udf(dim: int, n_planes: int = 16, seed: int = 42):
    """Arrow UDF: embedding → int64 sign-bit bucket. One numpy matmul
    per Arrow batch (vectorized, never per-row)."""
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.LongType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (m.astype(np.float64) @ planes) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series(signs @ weights)

    return _bucket


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe
    buckets; true cosine ranks within. Same output schema as
    :func:`cosine_topk`.

    Multi-probe: each query also probes the ``n_planes`` buckets at
    Hamming distance 1 from its own signature (the standard recall
    lever — neighbors most often differ by exactly one marginal
    hyperplane). Probing fans out the *query* side only, which is the
    cheap side: the corpus is bucketed once and, at scale,
    hash-partitioned by bucket and reused across query batches.
    """
    bucket = lsh_bucket_udf(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        bucket(F.col(vec_col)).alias("__bkt"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).alias("__qv"),
        bucket(F.col(vec_col)).alias("__bkt0"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    if multiprobe:
        probes = F.array(
            F.col("__bkt0"),
            *[
                F.col("__bkt0").bitwiseXOR(F.lit(1 << j))
                for j in range(n_planes)
            ],
        )
        q = q.select(
            "__qid", "__qv", "__qn", F.explode(probes).alias("__bkt")
        )
    else:
        q = q.withColumnRenamed("__bkt0", "__bkt")
    sim = F.round(
        cosine_prenormed(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"), dim
        ),
        6,
    )
    w = Window.partitionBy("__qid").orderBy(F.col("sim").desc(), F.col("__cid").asc())
    return (
        c.join(F.broadcast(q), "__bkt")
        .dropDuplicates(["__qid", "__cid"])
        .withColumn("sim", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(id_col),
            "sim",
            F.col("sim_rank").cast(T.IntegerType()),
        )
    )


def _kmeans_numpy(sample: np.ndarray, k: int, iters: int = 12, seed: int = 42):
    """Tiny deterministic k-means (numpy, driver-side) for the IVF
    coarse quantizer. The sample is dimension-table sized; at 100 TB
    you train on a bounded hash-sample exactly like this."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=min(k, len(sample)), replace=False)].astype(np.float64)
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cent)):
            m = assign == j
            if m.any():
                cent[j] = sample[m].mean(axis=0)
    return cent


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Arrow UDF: embedding → array of the nprobe nearest centroid ids
    (one numpy matmul per batch)."""
    cent = centroids.astype(np.float64)
    cn = (cent * cent).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        d = cn[None, :] - 2.0 * (m @ cent.T)  # ||c||² - 2v·c (+||v||² const)
        idx = np.argsort(d, axis=1)[:, :nprobe]
        return pd.Series([row.tolist() for row in idx.astype(np.int32)])

    return _assign


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    train_sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF coarse-quantizer training from a Spark corpus.

    Sample selection is a hash-ORDERED prefix — ``(md5_hash60(id) mod
    2¹⁶, id)`` is a total order, so the selected row SET is independent
    of partitioning/parallelism. The md5-based rank (not ``xxhash64``)
    makes the selection replicable OUTSIDE Spark: the gate's DuckDB twin
    embeds the resulting centroids as literals via
    :func:`ivf_train_centroids_local`, which reproduces this function
    bit-for-bit from the parquet file alone.
    """
    sample_rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .withColumn(
            "__r", F.pmod(X.md5_hash60(F.col("i").cast("string")), F.lit(1 << 16))
        )
        .orderBy("__r", "i")
        .limit(train_sample)
        .collect()
    )
    sample_rows.sort(key=lambda r: (r["__r"], r["i"]))
    sample = np.stack([np.asarray(r["v"], dtype=np.float64) for r in sample_rows])
    return _kmeans_numpy(sample, n_centroids, seed=seed)


def ivf_train_centroids_local(
    parquet_path: str,
    n_centroids: int = 16,
    seed: int = 42,
    train_sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spark-free replica of :func:`ivf_train_centroids` (duckdb read +
    the same hash rank + the same numpy k-means) — used at oracle-build
    time to embed the trained centroids as literal VALUES so ``ann_ivf``
    gets a full value-hash gate entry despite being an iterative op.
    Bit-identical to the Spark path by construction (pinned by test)."""
    import hashlib

    import duckdb

    rows = duckdb.sql(
        f"SELECT {id_col} AS i, {vec_col} AS v FROM read_parquet('{parquet_path}')"
    ).fetchall()

    def rank(i) -> int:
        # Spark: pmod(conv(substr(md5(cast(i as string)),1,15),16,10), 2^16)
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % (1 << 16)

    ranked = sorted(((rank(i), i, v) for i, v in rows), key=lambda t: (t[0], t[1]))
    sample = np.stack(
        [np.asarray(v, dtype=np.float64) for _, _, v in ranked[:train_sample]]
    )
    return _kmeans_numpy(sample, n_centroids, seed=seed)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    train_sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k (the other scale path besides
    LSH): corpus rows live in their nearest-centroid bucket (ONE
    partitionable assignment, reusable across query batches); each
    query probes its ``nprobe`` nearest buckets; exact cosine ranks the
    candidates. Same output schema as :func:`cosine_topk`.

    ``centroids`` (a ``(n_centroids, dim)`` array) skips training —
    the serving path: train once via :func:`ivf_train_centroids` (or
    the persisted :mod:`..operators.ann_index` lifecycle) and reuse
    across calls; per-call training is the flat cost floor the r4
    recall bench measured.
    """
    cent = centroids if centroids is not None else ivf_train_centroids(
        corpus, n_centroids, seed=seed, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col,
    )

    c_assign = ivf_assign_udf(cent, nprobe=1)
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.element_at(c_assign(F.col(vec_col)), 1).alias("__bkt"),
    )
    return ivf_topk_from_bucketed(
        c, queries, cent, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id=query_id,
    )


def ivf_topk_from_bucketed(
    bucketed_corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Probe-and-rank over an ALREADY bucket-assigned corpus
    (``__cid``, ``__cv``, ``__bkt`` columns) — the tail shared by
    :func:`ann_ivf_topk` (assigns inline) and the persisted serving
    index (:mod:`.ann_index`, which reads the assignment back from a
    bucket-partitioned snapshot so probes prune directories)."""
    q_assign = ivf_assign_udf(centroids, nprobe=nprobe)
    # the trained centroid matrix fixes the vector dimension → unrolled
    # codegen dot/norm chains (size-guarded, bit-identical)
    dim = int(centroids.shape[1])
    q = (
        queries.select(
            F.col(query_id).alias("__qid"),
            F.col(vec_col).alias("__qv"),
            q_assign(F.col(vec_col)).alias("__bkts"),
            norm(F.col(vec_col)).alias("__qn"),
        )
        .withColumn("__bkt", F.explode("__bkts"))
        .drop("__bkts")
    )
    # corpus-side norm computed once per row before the probe join
    # (bucketed_corpus may come from the persisted index without it)
    bucketed_corpus = bucketed_corpus.withColumn(
        "__cn", norm(F.col("__cv"))
    )
    sim = F.round(
        cosine_prenormed(
            F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"), dim
        ),
        6,
    )
    w = Window.partitionBy("__qid").orderBy(F.col("sim").desc(), F.col("__cid").asc())
    return (
        bucketed_corpus.join(F.broadcast(q), "__bkt")
        .dropDuplicates(["__qid", "__cid"])
        .withColumn("sim", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(id_col),
            "sim",
            F.col("sim_rank").cast(T.IntegerType()),
        )
    )


def lsh_band_keys_udf(dim: int, bands: int, bits_per_band: int, seed: int = 42):
    """Arrow UDF: embedding → array of ``bands`` int64 band keys.

    One numpy matmul against ``bands × bits_per_band`` hyperplanes per
    Arrow batch; each band packs its own ``bits_per_band`` sign bits, so
    the total signature width is NOT limited to one int64 (the single-
    bucket :func:`lsh_bucket_udf` is)."""
    planes = _hyperplanes(dim, bands * bits_per_band, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _keys(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ planes) > 0  # (batch, bands*bits)
        w = 1 << np.arange(bits_per_band, dtype=np.int64)
        keys = signs.reshape(len(m), bands, bits_per_band) @ w  # (batch, bands)
        return pd.Series([row.tolist() for row in keys])

    return _keys


def embedding_near_dup_pairs(
    df: DataFrame,
    sim_threshold: float = 0.95,
    bands: int = 8,
    bits_per_band: int = 12,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family member).
    Output: (id_a, id_b, sim) with id_a < id_b, sim ≥ threshold.

    Candidate generation BANDS the hyperplane sign signature (same
    shape as minhash LSH banding): a pair is a candidate iff SOME band
    of ``bits_per_band`` sign bits agrees exactly. Per-pair candidate
    probability at cosine s is 1-(1-p^r)^b with p = 1 - acos(s)/π —
    ~0.93 at s=0.95 for the (8, 12) default, →1 as s→1. The previous
    full-signature-equality rule silently missed true near-dups that
    differed in ONE marginal hyperplane; banding is the recall fix.
    Precision stays exact: true cosine is re-verified per candidate.

    Skew: a (band, key) bucket of size m fans out m² candidate rows in
    the self-join — boilerplate/viral embeddings make single buckets
    that straggle a 100-TB run. Buckets larger than ``max_bucket`` are
    therefore EXCLUDED from candidate generation (not a silent
    truncation at the API level: :func:`near_dup_hot_buckets` reports
    exactly which buckets a cap drops; callers log the count, and such
    buckets are exact-dup clusters better handled by hash dedup first).
    """
    n_planes = bands * bits_per_band
    if dim is None:
        dim = vector_dim(df, vec_col)
    keys_udf = lsh_band_keys_udf(dim, bands, bits_per_band, seed)
    # cache_latest: the banded self-join scans this twice and the
    # vector fetch twice more; without caching the UDF matmul re-runs
    # per scan (bounded: each call releases the previous call's cache)
    par = df.sparkSession.sparkContext.defaultParallelism
    # __n cached alongside: the verify step needs each side's norm once
    # per PAIR otherwise (interpreted HOF fold — see cosine_prenormed)
    sig = cache_latest(
        "similarity.near_dup.sig",
        df.repartition(par, id_col).select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            keys_udf(F.col(vec_col)).alias("__keys"),
            norm(F.col(vec_col)).alias("__n"),
        ),
    )
    banded = sig.select("__id", F.posexplode("__keys").alias("__band", "__key"))
    if max_bucket is not None:
        # hot-list anti-join, not a count window: the window would sort
        # the whole banded set per partition, while the hot list is at
        # most n/max_bucket buckets by definition — always broadcastable
        hot = (
            banded.groupBy("__band", "__key")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("__band", "__key")
        )
        banded = banded.join(F.broadcast(hot), ["__band", "__key"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = sig.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = sig.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sim = F.round(
        cosine_prenormed(
            F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb"), dim
        ),
        6,
    )
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= sim_threshold)
        .select("id_a", "id_b", "sim")
    )


def near_dup_hot_buckets(
    df: DataFrame,
    bands: int = 8,
    bits_per_band: int = 12,
    dim: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
) -> DataFrame:
    """(band, key, size) of buckets that a ``max_bucket`` cap would drop
    from :func:`embedding_near_dup_pairs` — the observable no-silent-cap
    companion (pipelines count/log these rows next to the dedup stats)."""
    if dim is None:
        dim = vector_dim(df, vec_col)
    keys_udf = lsh_band_keys_udf(dim, bands, bits_per_band, seed)
    return (
        df.select(keys_udf(F.col(vec_col)).alias("__keys"))
        .select(F.posexplode("__keys").alias("band", "key"))
        .groupBy("band", "key")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket)
    )


# ------------------------------------------------------ int8 quantization

def quantized_embedding(vec: Column, bits: int = 8) -> tuple[Column, Column]:
    """(scale, int-quantized vector) for one embedding: symmetric
    per-vector max-abs quantization — q_i = floor(v_i / scale + 0.5),
    scale = absmax / (2^(bits-1) - 1). At 100 TB this is the memory
    lever for the ANN family: int8 vectors are 4× smaller than float32
    on the shuffle, in the persisted index, and in executor cache,
    and the int dot product stays EXACT (no float fold) so the only
    approximation is the quantization grid itself.

    Cross-engine exact: floor + two IEEE divisions (both correctly
    rounded), reproduced verbatim in the SQL twins. Zero vectors get
    scale 0 and all-zero codes."""
    levels = (1 << (bits - 1)) - 1
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(float(levels))

    # absmax is LET-BOUND for the code transform: referencing ``scale``
    # directly from the per-element lambda re-evaluates the O(dim)
    # array_max per ELEMENT (O(dim²)/row — HOF lambda bodies re-run
    # captured expressions); as the outer transform's input it
    # evaluates once, and the division value (hence every quantized
    # code) is bit-identical.
    def _codes(am: Column) -> Column:
        s = am / F.lit(float(levels))
        return F.when(
            am == 0.0, F.transform(vec, lambda x: F.lit(0).cast("long"))
        ).otherwise(
            F.transform(
                vec,
                lambda x: F.floor(x.cast("double") / s + F.lit(0.5)).cast("long"),
            )
        )

    q = F.transform(F.array(absmax), _codes)[0]
    return scale, q


def quantized_embedding_sql(vec: str, bits: int = 8) -> tuple[str, str]:
    levels = (1 << (bits - 1)) - 1
    absmax = f"list_max(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))))"
    scale = f"({absmax} / {float(levels)})"
    q = (
        f"CASE WHEN {absmax} = 0.0 THEN list_transform({vec}, x -> CAST(0 AS BIGINT)) "
        f"ELSE list_transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) / {scale} + 0.5) AS BIGINT)) END"
    )
    return scale, q


def _int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over integer codes — EXACT (long fold, no float)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    bits: int = 8,
) -> DataFrame:
    """cosine_topk over int-quantized codes: the dot product and both
    norms are exact integers, so the cosine is dot/(sqrt(nq)·sqrt(nc))
    — multiplications, divisions and sqrt are ALL correctly-rounded
    IEEE ops, which makes even this float bit-identical to the DuckDB
    twin (unlike ln/pow, whose last ulp is not contractual).

    Output: (qid, vec_id, sim_q, sim_rank) — sim_q is the quantized
    cosine (≈ true cosine within the int8 grid; the recall bound vs
    exact cosine_topk is pinned in tests)."""
    qscale, qq = quantized_embedding(F.col(vec_col), bits)
    q = queries.select(
        F.col(query_id).alias("__qid"), qq.alias("__qv")
    ).withColumn("__qn", _int_dot(F.col("__qv"), F.col("__qv")))
    cscale, cq = quantized_embedding(F.col(vec_col), bits)
    c = corpus.select(F.col(id_col).alias("__cid"), cq.alias("__cv")).withColumn(
        "__cn", _int_dot(F.col("__cv"), F.col("__cv"))
    )
    dot_q = _int_dot(F.col("__qv"), F.col("__cv")).cast("double")
    denom = F.greatest(
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__cn").cast("double")),
        F.lit(1e-300),
    )
    sim = F.round(dot_q / denom, 6)
    w = Window.partitionBy("__qid").orderBy(F.col("sim_q").desc(), F.col("__cid").asc())
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("sim_q", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(id_col),
            "sim_q",
            F.col("sim_rank").cast(T.IntegerType()),
        )
    )


def cosine_topk_quantized_sql(
    corpus_table: str,
    queries_sql: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    bits: int = 8,
) -> str:
    """DuckDB twin of :func:`cosine_topk_quantized` (identical
    quantization grid, exact integer dot/norms, same rounded float)."""
    _, qc = quantized_embedding_sql(f"c.{vec_col}", bits)
    _, qq = quantized_embedding_sql(f"q.{vec_col}", bits)
    idot = (
        "(SELECT sum(x * y) FROM (SELECT unnest(cq) AS x, unnest(qq) AS y))"
    )
    inorm = lambda v: f"(SELECT sum(x * x) FROM (SELECT unnest({v}) AS x))"  # noqa: E731
    return f"""
WITH cq AS (
  SELECT c.{id_col} AS cid, {qc} AS cq FROM {corpus_table} c
), qq AS (
  SELECT q.{query_id} AS qid, {qq} AS qq FROM ({queries_sql}) q
), scored AS (
  SELECT qid, cid,
         round(CAST({idot} AS DOUBLE) /
               greatest(sqrt(CAST({inorm('cq')} AS DOUBLE)) *
                        sqrt(CAST({inorm('qq')} AS DOUBLE)), 1e-300),
               6) AS sim_q
  FROM cq CROSS JOIN qq
)
SELECT qid AS {query_id}, cid AS {id_col}, sim_q,
       CAST(row_number() OVER (
         PARTITION BY qid ORDER BY sim_q DESC, cid ASC) AS INTEGER)
         AS sim_rank
FROM scored
QUALIFY sim_rank <= {k}
"""
