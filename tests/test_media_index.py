"""Persisted media index + incremental near-dup pairing: the
increment must equal the full (decode-everything) run restricted to
pairs touching new rows — including under a hot-bucket cap — and the
merge lifecycle must converge to the full-corpus index without ever
re-decoding committed payloads."""

import os

import numpy as np
import pytest

from o2g_spark import kernels
from o2g_spark.operators import media_dedup, media_index
from o2g_spark.operators.multimodal import MEDIA_SCHEMA, make_bmp
from o2g_spark.plans.checkpoint import CheckpointManager

CHUNKS, BAND_CHUNKS = 8, 2


def _grid_bmp(v: np.ndarray) -> bytes:
    gray = np.repeat(np.repeat(v, 2, axis=0), 2, axis=1).astype(np.uint8)
    return make_bmp(np.stack([gray] * 3, axis=-1))


def _image_rows(n=120, seed=3):
    """Block-constant images (dHash bits = block-value comparisons, so
    twins flip an exact bit count): every 12th base gets a twin at
    id 1001+i — the +1 shift makes planted pairs CROSS a %5 split."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        v = rng.integers(0, 251, size=(8, 9)).astype(np.int64)
        rows.append((i, f"m{i}", "image", _grid_bmp(v), {}))
        if i % 12 == 0:
            t = v.copy()
            for r in range(1 + i % 2):
                t[r, 0] = t[r, 1] if t[r, 0] > t[r, 1] else t[r, 1] + 1
            rows.append((1001 + i, f"m{i}t", "image", _grid_bmp(t), {}))
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_image_rows(), MEDIA_SCHEMA)


def _pairs(df) -> set:
    return {(r.id_a, r.id_b, r.hamming) for r in df.collect()}


def _full(media, max_bucket=None) -> set:
    return _pairs(media_dedup.image_near_dup_pairs(
        media, max_hamming=CHUNKS - BAND_CHUNKS,
        chunks=CHUNKS, band_chunks=BAND_CHUNKS, max_bucket=max_bucket))


def test_incremental_equals_full_restricted(spark, corpus, tmp_path):
    """increment(index(OLD), NEW) == image_near_dup_pairs(ALL) filtered
    to pairs with >= 1 NEW member — bit-exact, hamming included, and
    the committed payloads are never re-decoded."""
    old = corpus.filter("media_id % 5 != 0")
    new = corpus.filter("media_id % 5 = 0")
    base = str(tmp_path / "midx")
    media_index.media_index_build(spark, base, old, kind="image")
    inc = _pairs(media_index.media_near_dup_incremental(spark, base, new))
    expected = {p for p in _full(corpus)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert len(inc) > 0  # planted twins cross the split
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in inc)


def test_hot_bucket_cap_matches_full_run(spark, corpus, tmp_path):
    """A max_bucket cap drops the SAME buckets as the full run (hot
    list over index ∪ new): plant one viral image re-posted 15×."""
    rng = np.random.default_rng(11)
    v = rng.integers(0, 251, size=(8, 9)).astype(np.int64)
    viral = [(20_000 + i, f"v{i}", "image", _grid_bmp(v), {})
             for i in range(15)]
    allm = corpus.unionByName(
        spark.createDataFrame(viral, MEDIA_SCHEMA))
    old = allm.filter("media_id % 5 != 0")
    new = allm.filter("media_id % 5 = 0")
    base = str(tmp_path / "midx")
    media_index.media_index_build(spark, base, old, kind="image")
    inc = _pairs(media_index.media_near_dup_incremental(
        spark, base, new, max_bucket=8))
    expected = {p for p in _full(allm, max_bucket=8)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    uncapped = _pairs(media_index.media_near_dup_incremental(
        spark, base, new, max_bucket=None))
    dropped = {p for p in uncapped - inc if p[0] >= 20_000}
    assert dropped  # the cap actually bit on the viral cluster


def test_merge_converges_to_full_index(spark, corpus, tmp_path):
    """build(OLD) → merge(MID) → increment(NEWER) pairs against
    old ∪ mid — LSM-delta merges, idempotent re-merge, reader-
    invariant compaction."""
    from o2g_spark.operators import _delta_index as D

    old = corpus.filter("media_id < 60")
    mid = corpus.filter("media_id >= 60 AND media_id < 1001")
    newer = corpus.filter("media_id >= 1001")
    base = str(tmp_path / "midx")
    media_index.media_index_build(spark, base, old, kind="image")
    ckpt = CheckpointManager(spark, base)
    base_snap = ckpt.manifest(media_index.BANDS_STAGE)["snapshot_id"]
    media_index.media_index_merge(spark, base, mid)
    assert ckpt.manifest(media_index.BANDS_STAGE)["snapshot_id"] == base_snap
    assert len(D.live_delta_stages(ckpt, media_index.BANDS_STAGE)) == 1
    media_index.media_index_merge(spark, base, mid)  # idempotent
    assert len(D.live_delta_stages(ckpt, media_index.BANDS_STAGE)) == 1
    inc2 = _pairs(media_index.media_near_dup_incremental(
        spark, base, newer))
    expected = {p for p in _full(corpus) if p[0] >= 1001 or p[1] >= 1001}
    assert inc2 == expected
    assert len(inc2) > 0
    assert media_index.media_index_compact(spark, base) == 1
    assert D.live_delta_stages(ckpt, media_index.BANDS_STAGE) == []
    assert _pairs(media_index.media_near_dup_incremental(
        spark, base, newer)) == expected


def test_audio_kind_and_mixed_input(spark, tmp_path):
    """An audio index over a MIXED media frame filters to its kind and
    matches the full audio run restricted to new rows."""
    rows = list(media_dedup.synth_afp_media_rows())
    rows += media_dedup.synth_phash_media_rows(n_base=4)[:4]  # noise kind
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    old = media.filter("media_id < 1000")
    new = media.filter("media_id >= 1000")
    base = str(tmp_path / "midx_a")
    media_index.media_index_build(
        spark, base, old, kind="audio", frame_samples=128)
    inc = _pairs(media_index.media_near_dup_incremental(spark, base, new))
    full = _pairs(media_dedup.audio_near_dup_pairs(
        media, frame_samples=128, max_hamming=6))
    expected = {p for p in full if p[0] >= 1000 or p[1] >= 1000}
    assert inc == expected
    assert len(inc) > 0


def test_param_mismatch_and_missing_index_raise(spark, corpus, tmp_path):
    base = str(tmp_path / "midx")
    with pytest.raises(FileNotFoundError, match="no committed media index"):
        media_index.media_near_dup_incremental(
            spark, base, corpus.limit(5))
    media_index.media_index_build(
        spark, base, corpus.filter("media_id < 40"), kind="image")
    with pytest.raises(ValueError, match="pigeonhole"):
        media_index.media_near_dup_incremental(
            spark, base, corpus.filter("media_id >= 40"), max_hamming=7)
    # simulate an interrupted rebuild: sigs stage re-committed under
    # different banding params
    ckpt = CheckpointManager(spark, base)
    sigs = media_index._sig_rows(
        corpus.filter("media_id < 40"), "image", "media_id", "payload", 256)
    ckpt.run_stage(media_index.SIGS_STAGE, lambda: sigs, key_col="did",
                   force=True,
                   manifest_extra={"kind": "image", "chunks": 4,
                                   "band_chunks": 2, "frame_samples": 256,
                                   "id_col": "media_id"})
    with pytest.raises(RuntimeError, match="inconsistent media index"):
        media_index.media_near_dup_incremental(
            spark, base, corpus.filter("media_id >= 40"))


def test_bands_snapshot_partitioned_by_band(spark, corpus, tmp_path):
    base = str(tmp_path / "midx")
    media_index.media_index_build(
        spark, base, corpus.limit(30), kind="image")
    data_dir = os.path.join(base, media_index.BANDS_STAGE, "data")
    parts = [d for d in os.listdir(data_dir) if d.startswith("band=")]
    assert len(parts) == 28  # C(8,2) chunk combinations


def test_codec_rev_mismatch_raises(spark, corpus, tmp_path, monkeypatch):
    """An index built under an older decode envelope (e.g. before
    progressive JPEG decoded for real) must refuse to serve — a
    re-crawled byte-identical payload would otherwise silently miss
    its indexed twin because the twin has no signature row."""
    base = str(tmp_path / "midx_rev")
    media_index.media_index_build(
        spark, base, corpus.filter("media_id < 40"), kind="image")
    monkeypatch.setattr(kernels, "CODEC_REV", 99)
    with pytest.raises(RuntimeError, match="decode envelope"):
        media_index.media_near_dup_incremental(
            spark, base, corpus.filter("media_id >= 40"))
