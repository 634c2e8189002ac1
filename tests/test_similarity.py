"""Embedding similarity: brute-force cosine top-k, LSH ANN, near-dup."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from o2g_spark.operators import similarity as sim


def _emb(n=200, dim=16, seed=9, with_dups=True) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim)).astype(np.float32)
    if with_dups:
        m[10] = m[3] + rng.standard_normal(dim).astype(np.float32) * 1e-3  # near dup
        m[11] = m[3]  # exact dup
    return pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.tolist() for v in m]}
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(_emb())


def _np_topk(pdf, qids, k):
    m = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    out = set()
    for q in qids:
        sims = (m @ m[q]) / np.maximum(norms * norms[q], 1e-300)
        order = sorted(range(len(sims)), key=lambda i: (-round(sims[i], 6), i))
        for rank, i in enumerate(order[:k], 1):
            out.add((q, i, rank))
    return out


def test_cosine_topk_matches_numpy(emb):
    pdf = _emb()
    qids = [0, 3, 50]
    queries = emb.filter(emb.vec_id.isin(qids)).select(
        emb.vec_id.alias("qid"), "embedding"
    )
    got = {
        (r.qid, r.vec_id, r.sim_rank)
        for r in sim.cosine_topk(emb, queries, k=5).collect()
    }
    assert got == _np_topk(pdf, qids, 5)


def test_cosine_topk_sql_twin(emb, spark):
    pdf = _emb()
    queries = emb.filter(emb.vec_id.isin([1, 7])).select(
        emb.vec_id.alias("qid"), "embedding"
    )
    got = sorted(
        (r.qid, r.vec_id, r.sim, r.sim_rank)
        for r in sim.cosine_topk(emb, queries, k=4).collect()
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    q_sql = "SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id IN (1, 7)"
    d = sorted(
        tuple(r)
        for r in con.execute(
            sim.cosine_topk_sql("embeddings", q_sql, k=4)
        ).fetchall()
    )
    con.close()
    assert [(a, b, round(c, 6), d_) for a, b, c, d_ in got] == [
        (a, b, round(c, 6), d_) for a, b, c, d_ in d
    ]


def test_ann_lsh_recall_and_precision(emb):
    pdf = _emb()
    qids = list(range(0, 40))
    queries = emb.filter(emb.vec_id.isin(qids)).select(
        emb.vec_id.alias("qid"), "embedding"
    )
    got = sim.ann_lsh_topk(emb, queries, dim=16, k=3, n_planes=6).collect()
    exact = _np_topk(pdf, qids, 3)
    exact_pairs = {(q, i) for q, i, _ in exact}
    got_pairs = {(r.qid, r.vec_id) for r in got}
    # self-match always in the same bucket → rank-1 recall is perfect
    assert all((q, q) in got_pairs for q in qids)
    # overall recall against exact top-3 should be substantial
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall > 0.5, recall


def test_embedding_near_dup_pairs(emb):
    got = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(emb, sim_threshold=0.99).collect()
    }
    assert (3, 10) in got and (3, 11) in got and (10, 11) in got
    # random 16-dim gaussians essentially never hit cosine ≥ 0.99
    assert got == {(3, 10), (3, 11), (10, 11)}


def test_embedding_near_dup_recall_bound(spark):
    """Banded candidates vs numpy brute force: precision exact (true
    cosine verified), recall ≥ 0.8 at threshold 0.95 on pairs whose
    cosines straddle the threshold (the full-signature-equality bug
    this replaces missed pairs differing in one marginal hyperplane)."""
    rng = np.random.default_rng(5)
    n, dim, planted = 260, 16, 40
    m = rng.standard_normal((n, dim)).astype(np.float64)
    copies = []
    for j in range(planted):
        base = m[j]
        noise = rng.standard_normal(dim)
        # noise/signal ratio 0.05..0.44 → cosines ~0.91..0.999
        ratio = 0.05 + 0.01 * j
        noise *= ratio * np.linalg.norm(base) / np.linalg.norm(noise)
        copies.append(base + noise)
    full = np.vstack([m, np.stack(copies)])
    ids = np.arange(len(full))
    norms = np.linalg.norm(full, axis=1)
    sims = (full @ full.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(full), k=1)
    expected = {
        (int(a), int(b))
        for a, b in zip(iu[0][sims[iu] >= 0.95], iu[1][sims[iu] >= 0.95])
    }
    assert len(expected) >= 10  # the graded noise must straddle 0.95
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in full]})
    )
    got = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(df, sim_threshold=0.95).collect()
    }
    assert got <= expected  # precision: every reported pair is real
    recall = len(got & expected) / len(expected)
    assert recall >= 0.8, recall


def test_embedding_near_dup_hot_bucket_cap(spark):
    """max_bucket excludes viral buckets from candidate generation and
    near_dup_hot_buckets reports exactly what a cap drops."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    # 30 near-identical vectors (one viral cluster) + 20 random
    rows = [base + rng.standard_normal(16) * 1e-4 for _ in range(30)]
    rows += [rng.standard_normal(16) for _ in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in rows]})
    )
    uncapped = sim.embedding_near_dup_pairs(df, sim_threshold=0.99, max_bucket=None)
    assert uncapped.count() == 30 * 29 // 2
    capped = sim.embedding_near_dup_pairs(df, sim_threshold=0.99, max_bucket=10)
    assert capped.count() == 0
    hot = sim.near_dup_hot_buckets(df, max_bucket=10).collect()
    assert len(hot) > 0 and all(r["size"] >= 30 for r in hot)


def test_dimension_probe_on_empty_frame(spark):
    """An empty frame gives an empty result with the documented
    columns at every site that probes the vector width."""
    from o2g_spark.streaming import stateful

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = {
        "pairs": sim.embedding_near_dup_pairs(empty),
        "hot": sim.near_dup_hot_buckets(empty, max_bucket=1),
        "batch": stateful.near_dup_embedding_batch(empty),
        "topk": sim.cosine_topk(
            empty, empty.withColumnRenamed("vec_id", "qid")),
    }
    assert {k: (df.columns, df.count()) for k, df in got.items()} == {
        "pairs": (["id_a", "id_b", "sim"], 0),
        "hot": (["band", "key", "size"], 0),
        "batch": (["id_a", "id_b", "band"], 0),
        "topk": (["qid", "vec_id", "sim", "sim_rank"], 0),
    }


def test_dot_and_norm_columns(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [[1.0, 2.0, 3.0]], "b": [[4.0, 5.0, 6.0]]})
    )
    r = df.select(
        sim.dot(df.a, df.b).alias("d"), sim.norm(df.a).alias("n")
    ).first()
    assert r.d == 32.0
    assert abs(r.n - np.sqrt(14.0)) < 1e-12


def test_dot_fixed_bit_identical_to_fold(spark):
    """The r6 unrolled-chain dot (dot_fixed) must equal the HOF fold
    BIT-for-bit on every shape it can meet: matching dims (unrolled
    branch), mismatched/short/long arrays and nulls (guard falls back
    to the fold), and dims beyond the unroll cap (plain fold)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    rows = [
        # 64-dim pairs: the unrolled branch, non-trivial float content
        *[
            (rng.standard_normal(64).tolist(), rng.standard_normal(64).tolist())
            for _ in range(50)
        ],
        ([1.0, 2.0], [3.0, 4.0]),          # shorter than dim → fold path
        ([1.0] * 70, [2.0] * 70),           # longer than dim → fold path
        ([1.0, 2.0], [3.0]),                # ragged → fold (null either way)
        (None, [1.0] * 64),                 # null array
        ([0.0] * 64, [0.0] * 64),           # zero vectors
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"a": [r[0] for r in rows], "b": [r[1] for r in rows]})
    )
    for dim in (64, 1000):  # 1000 > _UNROLL_MAX_DIM → pure fold
        cmp = df.select(
            sim.dot(df.a, df.b).alias("d1"),
            sim.dot_fixed(df.a, df.b, dim).alias("d2"),
        )
        bad = cmp.filter(~F.col("d1").eqNullSafe(F.col("d2"))).count()
        assert bad == 0, f"dim={dim}: {bad} rows diverge"


def test_ann_ivf_recall_and_determinism(emb, spark):
    pdf = _emb()
    qids = list(range(0, 40))
    queries = emb.filter(emb.vec_id.isin(qids)).select(
        emb.vec_id.alias("qid"), "embedding"
    )
    got = sim.ann_ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=3).collect()
    exact = _np_topk(pdf, qids, 3)
    exact_pairs = {(q, i) for q, i, _ in exact}
    got_pairs = {(r.qid, r.vec_id) for r in got}
    assert all((q, q) in got_pairs for q in qids)  # self always in own bucket
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall > 0.6, recall
    # partition invariance: same results under a different partitioning
    got2 = sim.ann_ivf_topk(
        emb.repartition(13), queries.repartition(3), k=3, n_centroids=8, nprobe=3
    ).collect()
    assert sorted((r.qid, r.vec_id, r.sim_rank) for r in got) == sorted(
        (r.qid, r.vec_id, r.sim_rank) for r in got2
    )


def test_ivf_centroids_local_replica_bit_identical(spark, tmp_path):
    """The Spark-free training replica (used to embed literal centroids
    in the ann_ivf gate oracle) must reproduce the Spark path's trained
    centroids BIT-FOR-BIT — same md5-ranked sample prefix, same numpy
    k-means. A drift here silently invalidates the gate twin."""
    pdf = _emb()
    path = str(tmp_path / "emb.parquet")
    df = spark.createDataFrame(pdf)
    df.write.parquet(path)
    c_spark = sim.ivf_train_centroids(
        spark.read.parquet(path), n_centroids=8, train_sample=100
    )
    c_local = sim.ivf_train_centroids_local(
        path + "/*.parquet", n_centroids=8, train_sample=100
    )
    assert np.array_equal(c_spark, c_local)


# --------------------------------------------------- int8 quantization

def test_quantized_roundtrip_error_bounded(spark):
    """Dequantized values sit within half a grid step of the input."""
    from pyspark.sql import functions as F

    from o2g_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    scale, q = SIM.quantized_embedding(F.col("embedding"))
    bad = (
        emb.select(
            F.col("embedding"), scale.alias("s"), q.alias("q")
        )
        .withColumn(
            "max_err",
            F.array_max(
                F.zip_with(
                    "embedding",
                    "q",
                    lambda v, code: F.abs(v.cast("double") - code * F.col("s")),
                )
            ),
        )
        .where(F.col("max_err") > F.col("s") * 0.5 + 1e-12)
        .count()
    )
    assert bad == 0


def test_quantized_zero_vector_safe(spark):
    from pyspark.sql import functions as F

    from o2g_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    scale, q = SIM.quantized_embedding(F.col("embedding"))
    rows = {r["vec_id"]: (r["s"], r["q"]) for r in
            df.select("vec_id", scale.alias("s"), q.alias("q")).collect()}
    assert rows[1] == (0.0, [0, 0, 0])
    assert rows[2][1][1] == -127  # absmax component hits the grid edge


def test_quantized_topk_recall_vs_exact(spark):
    from pyspark.sql import functions as F

    from o2g_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in SIM.cosine_topk(emb, q, k=10).collect()
    }
    quant = {
        (r["qid"], r["vec_id"])
        for r in SIM.cosine_topk_quantized(emb, q, k=10).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall  # int8 grid barely moves the ordering
