"""Persisted embedding index + incremental near-dup pairing: the
increment must equal the full run restricted to pairs touching new
vectors (including under a hot-bucket cap), and the merge lifecycle
must converge to the full-corpus index."""

import numpy as np
import pandas as pd
import pytest

from o2g_spark.operators import emb_index, similarity
from o2g_spark.plans.checkpoint import CheckpointManager

DIM, NB, BITS, TH = 16, 8, 12, 0.95


def _vecs(n=240, seed=7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, DIM))
    for i in range(24, n, 13):  # planted near-dups, many cross the split
        m[i] = m[i - 24] + rng.standard_normal(DIM) * 1e-4
    return pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [row.tolist() for row in m]}
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_vecs())


def _pairs(df) -> set:
    return {(r.id_a, r.id_b, r.sim) for r in df.collect()}


def _full(corpus, max_bucket=100_000) -> set:
    return _pairs(similarity.embedding_near_dup_pairs(
        corpus, sim_threshold=TH, bands=NB, bits_per_band=BITS,
        dim=DIM, max_bucket=max_bucket))


def test_incremental_equals_full_restricted(spark, corpus, tmp_path):
    """pairs_incremental(index(OLD), NEW) == embedding_near_dup_pairs(
    ALL) filtered to pairs with >= 1 NEW member — bit-exact, cosine
    included."""
    old = corpus.filter("vec_id % 5 != 0")
    new = corpus.filter("vec_id % 5 = 0")
    base = str(tmp_path / "emb")
    emb_index.emb_index_build(spark, base, old, bands=NB,
                              bits_per_band=BITS, dim=DIM)
    inc = _pairs(emb_index.embedding_near_dup_incremental(
        spark, base, new, sim_threshold=TH))
    expected = {p for p in _full(corpus)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert len(inc) > 0  # planted dups cross the split
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in inc)


def test_hot_bucket_cap_matches_full_run(spark, corpus, tmp_path):
    """A max_bucket cap drops the SAME buckets as the full-corpus run
    (the hot list is computed over index ∪ new): plant one viral
    vector cluster big enough to trip a tiny cap."""
    viral = _vecs(12, seed=1)
    viral["vec_id"] += 10_000
    base_vec = np.asarray(viral.loc[0, "embedding"])
    viral["embedding"] = [
        (base_vec + np.random.default_rng(100 + i).standard_normal(DIM)
         * 1e-6).tolist()
        for i in range(len(viral))
    ]
    allv = corpus.unionByName(spark.createDataFrame(viral))
    old = allv.filter("vec_id % 5 != 0")
    new = allv.filter("vec_id % 5 = 0")
    base = str(tmp_path / "emb")
    emb_index.emb_index_build(spark, base, old, bands=NB,
                              bits_per_band=BITS, dim=DIM)
    inc = _pairs(emb_index.embedding_near_dup_incremental(
        spark, base, new, sim_threshold=TH, max_bucket=8))
    expected = {p for p in _full(allv, max_bucket=8)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    # the cap actually bit: the viral cluster's new-touching pairs
    # are absent from the capped run but present uncapped
    uncapped = _pairs(emb_index.embedding_near_dup_incremental(
        spark, base, new, sim_threshold=TH, max_bucket=None))
    dropped = {p for p in uncapped - inc if p[0] >= 10_000}
    assert dropped


def test_merge_converges_to_full_index(spark, corpus, tmp_path):
    """After merge(NEW), a second increment over NEWER vectors pairs
    against old ∪ new — the rolling-crawl lifecycle, with LSM-delta
    merges, idempotent re-merge, and reader-invariant compaction."""
    from o2g_spark.operators import _delta_index as D

    old = corpus.filter("vec_id < 160")
    mid = corpus.filter("vec_id >= 160 AND vec_id < 200")
    newer = corpus.filter("vec_id >= 200")
    base = str(tmp_path / "emb")
    emb_index.emb_index_build(spark, base, old, bands=NB,
                              bits_per_band=BITS, dim=DIM)
    ckpt = CheckpointManager(spark, base)
    base_snap = ckpt.manifest(emb_index.BANDS_STAGE)["snapshot_id"]
    emb_index.emb_index_merge(spark, base, mid)
    assert ckpt.manifest(emb_index.BANDS_STAGE)["snapshot_id"] == base_snap
    assert len(D.live_delta_stages(ckpt, emb_index.BANDS_STAGE)) == 1
    emb_index.emb_index_merge(spark, base, mid)  # idempotent
    assert len(D.live_delta_stages(ckpt, emb_index.BANDS_STAGE)) == 1
    inc2 = _pairs(emb_index.embedding_near_dup_incremental(
        spark, base, newer, sim_threshold=TH))
    expected = {p for p in _full(corpus) if p[0] >= 200 or p[1] >= 200}
    assert inc2 == expected
    # compaction: deltas fold into a new base, readers unchanged
    assert emb_index.emb_index_compact(spark, base) == 1
    assert D.live_delta_stages(ckpt, emb_index.BANDS_STAGE) == []
    assert len(ckpt.snapshots(emb_index.BANDS_STAGE)) == 2
    assert _pairs(emb_index.embedding_near_dup_incremental(
        spark, base, newer, sim_threshold=TH)) == expected


def test_param_mismatch_and_missing_index_raise(spark, corpus, tmp_path):
    base = str(tmp_path / "emb")
    with pytest.raises(FileNotFoundError,
                       match="no committed embedding index"):
        emb_index.embedding_near_dup_incremental(
            spark, base, corpus.limit(5))
    emb_index.emb_index_build(spark, base, corpus.filter("vec_id < 80"),
                              bands=NB, bits_per_band=BITS, dim=DIM)
    # simulate an interrupted rebuild: vecs stage re-committed under
    # different banding params
    ckpt = CheckpointManager(spark, base)
    v = emb_index._vec_rows(
        corpus.filter("vec_id < 80"), "vec_id", "embedding")
    ckpt.run_stage(emb_index.VECS_STAGE, lambda: v, key_col="did",
                   force=True,
                   manifest_extra={"bands": 4, "bits_per_band": 8,
                                   "seed": 42, "dim": DIM,
                                   "id_col": "vec_id"})
    with pytest.raises(RuntimeError, match="inconsistent embedding index"):
        emb_index.embedding_near_dup_incremental(
            spark, base, corpus.filter("vec_id >= 80"))


def test_build_on_empty_frame_needs_dim(spark, corpus, tmp_path):
    """The width is stored in the index params, so a build over a frame
    with no vector cannot probe it: it asks for dim= instead of failing
    on the missing row."""
    with pytest.raises(ValueError, match="pass dim="):
        emb_index.emb_index_build(spark, str(tmp_path / "emb"), corpus.limit(0),
                                  bands=NB, bits_per_band=BITS)


def test_bands_snapshot_partitioned_by_band(spark, corpus, tmp_path):
    import os

    base = str(tmp_path / "emb")
    emb_index.emb_index_build(spark, base, corpus.limit(40), bands=NB,
                              bits_per_band=BITS, dim=DIM)
    data_dir = os.path.join(base, emb_index.BANDS_STAGE, "data")
    parts = [d for d in os.listdir(data_dir) if d.startswith("band=")]
    assert len(parts) == NB
