"""Persisted LSH index + incremental near-dup pairing: the increment
must equal the full run restricted to pairs touching new docs, and the
merge lifecycle must converge to the full-corpus index."""

import numpy as np
import pandas as pd
import pytest

from o2g_spark.operators import dedup, lsh_index
from o2g_spark.plans.checkpoint import CheckpointManager

NH, NB, TH = 32, 16, 0.4


def _docs(n=300, seed=3) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    words = np.array(
        "crawl spark tile cell union page shard route vector raster "
        "index hash band state join query stream batch delta".split()
    )
    texts = [
        " ".join(rng.choice(words, size=12, replace=True)) + f" t{i}"
        for i in range(n)
    ]
    for i in range(30, n, 17):
        texts[i] = texts[i - 30]  # planted dups, many crossing the split
    return pd.DataFrame({"doc_id": np.arange(n), "text": texts})


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_docs())


def _pairs(df) -> set:
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def test_incremental_equals_full_restricted(spark, corpus, tmp_path):
    """pairs_incremental(index(OLD), NEW) == minhash_lsh_pairs(ALL)
    filtered to pairs with >= 1 NEW member — bit-exact, jaccard
    included."""
    old = corpus.filter("doc_id % 5 != 0")
    new = corpus.filter("doc_id % 5 = 0")
    base = str(tmp_path / "lsh")
    lsh_index.lsh_index_build(spark, base, old, num_hashes=NH, bands=NB)
    inc = _pairs(lsh_index.minhash_lsh_pairs_incremental(
        spark, base, new, threshold=TH))
    full = _pairs(dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", NH, NB, TH))
    expected = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert len(inc) > 0  # planted dups cross the split
    # and no (old, old) pair ever surfaces from the increment
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in inc)


def test_merge_converges_to_full_index(spark, corpus, tmp_path):
    """After merge(NEW), a second increment over NEWER docs pairs
    against old ∪ new — the rolling-crawl lifecycle. Merges are LSM
    deltas (O(batch), base untouched); re-merging the same batch is a
    no-op; compaction folds the deltas without changing any reader."""
    from o2g_spark.operators import _delta_index as D

    old = corpus.filter("doc_id < 200")
    mid = corpus.filter("doc_id >= 200 AND doc_id < 250")
    newer = corpus.filter("doc_id >= 250")
    base = str(tmp_path / "lsh")
    lsh_index.lsh_index_build(spark, base, old, num_hashes=NH, bands=NB)
    ckpt = CheckpointManager(spark, base)
    base_snap = ckpt.manifest(lsh_index.BANDS_STAGE)["snapshot_id"]
    lsh_index.lsh_index_merge(spark, base, mid)
    # the merge is a DELTA: base snapshot untouched, one live delta
    assert ckpt.manifest(lsh_index.BANDS_STAGE)["snapshot_id"] == base_snap
    assert len(D.live_delta_stages(ckpt, lsh_index.BANDS_STAGE)) == 1
    # idempotent: re-merging the same batch commits nothing new
    lsh_index.lsh_index_merge(spark, base, mid)
    assert len(D.live_delta_stages(ckpt, lsh_index.BANDS_STAGE)) == 1
    inc2 = _pairs(lsh_index.minhash_lsh_pairs_incremental(
        spark, base, newer, threshold=TH))
    full = _pairs(dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", NH, NB, TH))
    expected = {p for p in full if p[0] >= 250 or p[1] >= 250}
    assert inc2 == expected
    # compaction folds the delta into a NEW base (old one retired into
    # history) and changes no reader output
    assert lsh_index.lsh_index_compact(spark, base) == 1
    assert D.live_delta_stages(ckpt, lsh_index.BANDS_STAGE) == []
    assert len(ckpt.snapshots(lsh_index.BANDS_STAGE)) == 2
    inc2b = _pairs(lsh_index.minhash_lsh_pairs_incremental(
        spark, base, newer, threshold=TH))
    assert inc2b == expected
    # and a post-compaction re-merge of the folded batch stays a no-op
    lsh_index.lsh_index_merge(spark, base, mid)
    assert D.live_delta_stages(ckpt, lsh_index.BANDS_STAGE) == []


def test_param_mismatch_and_missing_index_raise(spark, corpus, tmp_path):
    base = str(tmp_path / "lsh")
    with pytest.raises(FileNotFoundError, match="no committed LSH index"):
        lsh_index.minhash_lsh_pairs_incremental(
            spark, base, corpus.limit(5))
    lsh_index.lsh_index_build(spark, base, corpus.filter("doc_id < 100"),
                              num_hashes=NH, bands=NB)
    # simulate an interrupted rebuild: shingles stage re-committed
    # under different banding params
    ckpt = CheckpointManager(spark, base)
    sh = lsh_index._shingle_rows(
        corpus.filter("doc_id < 100"), "doc_id", "text", 3)
    ckpt.run_stage(lsh_index.SHINGLES_STAGE, lambda: sh, key_col="did",
                   force=True,
                   manifest_extra={"num_hashes": 16, "bands": 8,
                                   "shingle_n": 3, "id_col": "doc_id"})
    with pytest.raises(RuntimeError, match="inconsistent LSH index"):
        lsh_index.minhash_lsh_pairs_incremental(
            spark, base, corpus.filter("doc_id >= 100"))


def test_bands_snapshot_partitioned_by_band(spark, corpus, tmp_path):
    import os

    base = str(tmp_path / "lsh")
    lsh_index.lsh_index_build(spark, base, corpus.limit(50),
                              num_hashes=NH, bands=NB)
    data_dir = os.path.join(base, lsh_index.BANDS_STAGE, "data")
    parts = [d for d in os.listdir(data_dir) if d.startswith("band=")]
    assert len(parts) == NB
